"""Sources: CSV/Parquet/JSON options, chunked Excel engine, and the
SQLite save-strategy matrix (the reference's sql_executor_test.rs:29-345
and read_xl_to_db_test.rs re-expressed)."""

import contextlib
import glob
import shutil
import sqlite3
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from fabrix_spark.frame import FxFrame
from fabrix_spark.plans.adt import Cond, Delete, Select, Col
from fabrix_spark.sources.excel import (
    XlReadOptions,
    consume_excel,
    iter_batches,
    read_excel_batches,
)
from fabrix_spark.sources import files
from fabrix_spark.sources.files import (
    CsvReadOptions,
    JsonReadOptions,
    ParquetReadOptions,
    read_csv,
    read_json,
    read_parquet,
    resolve_parquet,
    write_csv,
    write_json,
    write_parquet,
)
from fabrix_spark.sources.sql import SaveStrategy, SqlExecutor


@pytest.fixture()
def fx(spark):
    return FxFrame.from_series(
        spark,
        {
            "id": [1, 2, 3, 4],
            "name": ["a", "b", "c", "d"],
            "val": [1.5, 2.5, 3.5, 4.5],
        },
        index="id",
    )


# ---------------------------------------------------------------------------
# file sources
# ---------------------------------------------------------------------------


def test_csv_roundtrip(spark, fx, tmp_path):
    p = str(tmp_path / "csv")
    write_csv(fx, p)
    back = read_csv(
        spark, p, CsvReadOptions(dtypes={"id": "i64", "name": "string", "val": "f64"}, index="id")
    )
    assert sorted(back.data()) == sorted(fx.data())
    assert back.index_tag.name == "id"


def test_csv_projection_nrows(spark, fx, tmp_path):
    p = str(tmp_path / "csv2")
    write_csv(fx, p)
    back = read_csv(spark, p, CsvReadOptions(projection=["id", "val"], n_rows=2))
    assert back.columns == ["id", "val"]
    assert back.height == 2


def test_parquet_roundtrip(spark, fx, tmp_path):
    p = str(tmp_path / "pq")
    write_parquet(fx, p)
    back = read_parquet(spark, p, ParquetReadOptions(columns=["id", "name"], index="id"))
    assert back.columns == ["id", "name"]
    assert back.height == 4


# ---------------------------------------------------------------------------
# the parquet table resolver: one schema inference per file identity
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_resolver_rewritten_file_reinfers_schema(spark, tmp_path):
    """A parquet file rewritten in place with other columns is read
    with its new schema: the identity (mtime_ns, size) changed, so the
    resolver infers again and the result never shows a stale column."""
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), p)
    assert sorted(tuple(r) for r in resolve_parquet(spark, p).collect()) == [(1, "x"), (2, "y")]
    pq.write_table(pa.table({"a": [3, 4, 5], "c": [0.5, 1.5, 2.5]}), p)
    df = resolve_parquet(spark, p)
    assert df.columns == ["a", "c"]
    assert sorted(tuple(r) for r in df.collect()) == [(3, 0.5), (4, 1.5), (5, 2.5)]
    assert read_parquet(spark, p).columns == ["a", "c"]
    # a directory: adding a file with a wider schema changes its identity
    d = tmp_path / "dir"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    assert resolve_parquet(spark, str(d)).columns == ["a"]
    (d / "part-0.parquet").unlink()
    pq.write_table(pa.table({"z": ["q"]}), str(d / "part-1.parquet"))
    assert [tuple(r) for r in resolve_parquet(spark, str(d)).collect()] == [("q",)]


def test_resolver_schema_follows_inference_confs(spark, sf_dir, tmp_path):
    """The session confs that change parquet inference are part of the
    identity: toggling ``nanosAsLong`` over a nanosecond ``events.parquet``
    gives bigint, then Spark's own refusal, then bigint again — never
    the schema inferred under the other value; ``_events`` still turns
    the nanos into NTZ micros; ``inferTimestampNTZ`` switches the real
    table between timestamp_ntz and timestamp."""
    from pyspark.errors import AnalysisException

    from fabrix_spark.queries import _events

    t = pq.read_table(f"{sf_dir}/events.parquet")
    t = t.set_column(t.schema.get_field_index("ts"), "ts", t.column("ts").cast(pa.timestamp("ns")))
    p = str(tmp_path / "events.parquet")
    pq.write_table(t, p, version="2.6", coerce_timestamps=None)
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    with _conf(spark, nanos, "true"):
        assert resolve_parquet(spark, p).schema["ts"].dataType == T.LongType()
        with _conf(spark, nanos, "false"):
            with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
                resolve_parquet(spark, p)
        assert resolve_parquet(spark, p).schema["ts"].dataType == T.LongType()
        assert _events(spark, str(tmp_path)).schema["ts"].dataType == T.TimestampNTZType()
    real = f"{sf_dir}/events.parquet"
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    with _conf(spark, ntz, "true"):
        assert resolve_parquet(spark, real).schema["ts"].dataType == T.TimestampNTZType()
        with _conf(spark, ntz, "false"):
            assert resolve_parquet(spark, real).schema["ts"].dataType == T.TimestampType()
        assert resolve_parquet(spark, real).schema["ts"].dataType == T.TimestampNTZType()


def test_resolver_cold_and_warm_schemas_match_inference(spark, sf_dir):
    """For every fixture table the cold resolve, the warm resolve and a
    plain inferring read give the same schema, nullability included."""
    with _conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
        for p in sorted(glob.glob(f"{sf_dir}/*.parquet")):
            files._schemas.pop(p, None)
            cold = resolve_parquet(spark, p).schema
            warm = resolve_parquet(spark, p).schema
            assert cold == warm == spark.read.parquet(p).schema, p


def test_resolver_job_counts(spark, sf_dir, spark_jobs, tmp_path):
    """The first resolve of a file is its one schema-inference job; a
    warm resolve and a warm ``read_parquet`` start none. A session that
    reads with ``mergeSchema`` infers on every read."""
    p = str(tmp_path / "lineitem.parquet")
    shutil.copy(f"{sf_dir}/lineitem.parquet", p)
    assert spark_jobs(lambda: resolve_parquet(spark, p)) == 1
    assert spark_jobs(lambda: resolve_parquet(spark, p)) == 0
    opts = ParquetReadOptions(columns=["l_orderkey"], n_rows=3, row_count="rid")
    assert spark_jobs(lambda: read_parquet(spark, p, opts)) == 0
    with _conf(spark, "spark.sql.parquet.mergeSchema", "true"):
        assert files.parquet_schema(spark, p) is None
        assert spark_jobs(lambda: resolve_parquet(spark, p)) == 1
    assert files.parquet_schema(spark, "file:///no/such/dir/x.parquet") is None


def test_events_read_keeps_resolved_tables_warm(spark, sf_dir, spark_jobs, tmp_path):
    """``nanosAsLong`` is part of the resolver's identity, so it is set
    once when the session starts (``tune_session`` here, as every
    registry query runs it): reading the events table flips no conf,
    and a table resolved before it stays warm after it."""
    from fabrix_spark.queries import _events, _t
    from fabrix_spark.session import tune_session

    shutil.copy(f"{sf_dir}/orders.parquet", tmp_path / "orders.parquet")
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(nanos, None)
    spark.conf.unset(nanos)
    try:
        tune_session(spark)
        assert spark_jobs(lambda: _t(spark, str(tmp_path), "orders")) == 1
        _events(spark, sf_dir)
        assert spark_jobs(lambda: _t(spark, str(tmp_path), "orders")) == 0
    finally:
        if old is None:
            spark.conf.unset(nanos)
        else:
            spark.conf.set(nanos, old)


def test_resolver_concurrent_cold_resolves_agree(spark, sf_dir, tmp_path):
    """Four threads resolving the same cold paths all get the inferred
    schema, and the cache holds one entry per path."""
    paths = []
    for name in ("orders", "customer"):
        paths.append(str(tmp_path / f"{name}.parquet"))
        shutil.copy(f"{sf_dir}/{name}.parquet", paths[-1])
    with ThreadPoolExecutor(4) as pool:
        got = list(pool.map(lambda i: resolve_parquet(spark, paths[i % 2]).schema, range(8)))
    for i, schema in enumerate(got):
        assert schema == spark.read.parquet(paths[i % 2]).schema
    assert all(files._schemas[p][1] == spark.read.parquet(p).schema for p in paths)


def test_json_ndjson_roundtrip(spark, fx, tmp_path):
    p = str(tmp_path / "nd")
    write_json(fx, p)
    back = read_json(spark, p, JsonReadOptions(projection=["id", "name", "val"]))
    assert sorted(back.data()) == sorted(fx.data())


def test_json_array_write(spark, fx, tmp_path):
    import json

    p = str(tmp_path / "doc.json")
    write_json(fx, p, is_json=True)
    with open(p) as f:
        rows = json.load(f)
    assert len(rows) == 4 and rows[0].keys() == {"id", "name", "val"}
    back = read_json(spark, p, JsonReadOptions(is_json=True))
    assert back.height == 4


# ---------------------------------------------------------------------------
# chunked Excel engine (fabrix-xl micro-batching, no openpyxl needed)
# ---------------------------------------------------------------------------

ROWS = [["id", "name"], [1, "a"], [2, "b"], [3, "c"], [4, "d"], [5, "e"]]


def test_iter_batches_chunks():
    batches = list(iter_batches(iter(ROWS), XlReadOptions(batch_size=2)))
    assert [len(c) for _, c in batches] == [2, 2, 1]
    assert all(n == ["id", "name"] for n, _ in batches)


def test_iter_batches_no_header():
    batches = list(iter_batches(iter(ROWS[1:]), XlReadOptions(has_header=False)))
    assert batches[0][0] == ["col_0", "col_1"]
    assert len(batches[0][1]) == 5


def test_iter_batches_column_wise():
    cols = [["id", 1, 2, 3], ["name", "a", "b", "c"]]
    [(names, chunk)] = list(iter_batches(iter(cols), XlReadOptions(is_column_wise=True)))
    assert names == ["id", "name"]
    assert chunk == [[1, "a"], [2, "b"], [3, "c"]]


def test_consume_excel_state_machine(spark, tmp_path):
    """First batch Replace, later batches Append (xl_db.rs:219-230)."""
    db = sqlite3.connect(str(tmp_path / "xl.db"))
    ex = SqlExecutor(spark, lambda: db)

    def consumer(batch_fx, i):
        strategy = SaveStrategy.REPLACE if i == 0 else SaveStrategy.APPEND
        ex.save("people", batch_fx.set_index_tag("id"), strategy)

    n = consume_excel(spark, iter(ROWS), consumer, XlReadOptions(batch_size=2, index="id"))
    assert n == 3
    cur = db.execute("SELECT count(*), sum(id) FROM people")
    assert cur.fetchone() == (5, 15)


def test_excel_to_sqlite_one_spark_job_per_save(spark, tmp_path):
    """Excel->sqlite REPLACE then UPSERT: each save reads its batch with
    at most one Spark job (job counts, not timings), and the table holds
    the last write per key, value by value."""
    from tests.xlsx_fixture import excel_to_db_run

    db = sqlite3.connect(str(tmp_path / "xl.db"))
    jobs, expected = excel_to_db_run(
        spark, SqlExecutor(spark, lambda: db), str(tmp_path / "sheet.xlsx")
    )
    assert len(jobs) == 2 and max(jobs) <= 1, jobs
    got = db.execute("SELECT id, name, price, day, ts, flag FROM sheet ORDER BY id").fetchall()
    # sqlite stores dates/timestamps as the ISO text _adapt binds, bools as 0/1
    assert got == [
        (k, name, price, day.isoformat(), ts.isoformat(sep=" "), int(flag))
        for k, name, price, day, ts, flag in (expected[k] for k in sorted(expected))
    ]
    assert len(got) == 20 and got[7][1] is None and got[3][1] == "n3" and got[15][1] == "u15"


def test_save_upsert_duplicate_new_keys_roll_back(spark, ex, fx):
    """Two rows with the same new key in one UPSERT frame fail on the
    primary key, and the whole save rolls back."""
    ex.save("t", fx, SaveStrategy.REPLACE)
    dup = FxFrame.from_series(
        spark,
        {"id": [2, 9, 9], "name": ["B", "x", "y"], "val": [20.0, 9.0, 9.5]},
        index="id",
    )
    with pytest.raises(sqlite3.IntegrityError):
        ex.save("t", dup, SaveStrategy.UPSERT)
    rows = ex.raw_select("SELECT id, name, val FROM t ORDER BY id").data()
    assert [tuple(r) for r in rows] == [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5), (4, "d", 4.5)]


# ---------------------------------------------------------------------------
# stdlib .xlsx SAX parser (fabrix-xl parity, no openpyxl)
# ---------------------------------------------------------------------------


def test_xlsx_stream_rows(tmp_path):
    import datetime as dt

    from fabrix_spark.sources.xlsx import sheet_names, stream_xlsx_rows
    from tests.xlsx_fixture import make_test_xlsx

    p = make_test_xlsx(str(tmp_path / "t.xlsx"))
    assert sheet_names(p) == ["data", "data_t"]
    rows = list(stream_xlsx_rows(p))
    assert rows[0] == ["id", "name", "when", "flag"]
    # shared string, builtin date style → date, bool
    assert rows[1] == [1, "alice", dt.date(2023, 3, 15), True]
    # rich-text shared string, custom date format → datetime
    assert rows[2] == [2, "bob", dt.datetime(2023, 3, 15, 6, 0), False]
    # skipped row simulated empty; sparse row gets None gaps
    assert rows[3] == []
    assert rows[4] == [3, None, None, "inline"]


def test_xlsx_number_edge_cases(tmp_path):
    import datetime as dt

    from fabrix_spark.sources.xlsx import _excel_number

    # 1900 leap-year bug: serial 61 is 1900-03-01
    assert _excel_number("61", True, False) == dt.date(1900, 3, 1)
    assert _excel_number("59", True, False) == dt.date(1900, 2, 28)
    # day 0 → time of day
    assert _excel_number("0.5", True, False) == dt.time(12, 0)
    # 1904 system base
    assert _excel_number("1", True, True) == dt.date(1904, 1, 2)
    # non-date style stays numeric
    assert _excel_number("45000", False, False) == 45000


def test_xlsx_end_to_end_batches(spark, tmp_path):
    from tests.xlsx_fixture import make_test_xlsx

    p = make_test_xlsx(str(tmp_path / "t.xlsx"))
    batches = list(
        read_excel_batches(spark, p, XlReadOptions(sheet_name="data", batch_size=10))
    )
    # empty simulated row 4 becomes a row of nulls in the frame; the
    # reference keeps it too (user-visible positions)
    [fx] = batches
    assert fx.columns == ["id", "name", "when", "flag"]
    vals = sorted((r for r in fx.data() if r[0] is not None), key=lambda r: r[0])
    assert [r[0] for r in vals] == [1, 2, 3]
    # first-non-null inference types "flag" as bool; the stray string
    # "inline" in row 5 nulls out (lenient mode, series.rs:588-591)
    assert [r[3] for r in vals] == [True, False, None]


def test_xlsx_column_wise_sheet(spark, tmp_path):
    from tests.xlsx_fixture import make_test_xlsx

    p = make_test_xlsx(str(tmp_path / "t.xlsx"))
    [fx] = list(
        read_excel_batches(
            spark, p, XlReadOptions(sheet_name="data_t", is_column_wise=True)
        )
    )
    assert fx.columns == ["id", "val"]
    assert sorted(fx.data()) == [(1, 1.5), (2, 2.5), (3, 3.5)]


# ---------------------------------------------------------------------------
# SQL executor: DDL + save-strategy matrix on sqlite
# ---------------------------------------------------------------------------


@pytest.fixture()
def ex(spark, tmp_path):
    db = sqlite3.connect(str(tmp_path / "t.db"))
    return SqlExecutor(spark, lambda: db)


def test_ddl_surface(ex, fx):
    ex.create_table("t1", fx)
    assert ex.table_exists("t1") and "t1" in ex.list_tables()
    assert ex.get_primary_key("t1") == "id"
    schema = dict(ex.table_schema("t1"))
    assert schema["id"] == "BIGINT" and schema["val"] == "DOUBLE PRECISION"
    ex.add_column("t1", "extra", __import__("fabrix_spark.types", fromlist=["ValueType"]).ValueType.STRING)
    assert "extra" in dict(ex.table_schema("t1"))
    ex.rename_table("t1", "t2")
    assert ex.table_exists("t2") and not ex.table_exists("t1")
    ex.drop_table("t2")
    assert not ex.table_exists("t2")


def test_save_fail_if_exists(ex, fx):
    assert ex.save("t", fx, SaveStrategy.FAIL_IF_EXISTS) == 4
    with pytest.raises(ValueError, match="FailIfExists"):
        ex.save("t", fx, SaveStrategy.FAIL_IF_EXISTS)


def test_save_replace_append(spark, ex, fx):
    ex.save("t", fx, SaveStrategy.REPLACE)
    ex.save("t", fx, SaveStrategy.REPLACE)
    assert ex.raw_select("SELECT count(*) AS n FROM t").data()[0][0] == 4
    # Append forwards a plain INSERT (ec.rs:510-517) — the DB enforces
    # the PK, so appended rows carry fresh keys.
    more = FxFrame.from_series(
        spark,
        {"id": [5, 6, 7, 8], "name": ["e", "f", "g", "h"], "val": [5.5, 6.5, 7.5, 8.5]},
        index="id",
    )
    ex.save("t", more, SaveStrategy.APPEND)
    assert ex.raw_select("SELECT count(*) AS n FROM t").data()[0][0] == 8


def test_save_upsert(spark, ex, fx):
    ex.save("t", fx, SaveStrategy.UPSERT)  # creates
    upd = FxFrame.from_series(
        spark,
        {"id": [3, 4, 5], "name": ["C", "D", "E"], "val": [30.0, 40.0, 50.0]},
        index="id",
    )
    ex.save("t", upd, SaveStrategy.UPSERT)  # 3,4 update; 5 insert
    rows = dict(
        (r[0], (r[1], r[2]))
        for r in ex.raw_select("SELECT id, name, val FROM t ORDER BY id").data()
    )
    assert len(rows) == 5
    assert rows[3] == ("C", 30.0) and rows[5] == ("E", 50.0)
    assert rows[1] == ("a", 1.5)


def test_select_adt_and_delete(ex, fx):
    ex.save("t", fx, SaveStrategy.REPLACE)
    sel = Select(table="t", columns=[Col("id"), Col("val")], filter=[Cond("val", "gt", 2.0)])
    got = ex.select(sel)
    assert sorted(r[0] for r in got.data()) == [2, 3, 4]
    n = ex.delete(Delete(table="t", filter=[Cond("id", "in", [1, 2])]))
    assert n == 2
    assert ex.raw_select("SELECT count(*) AS n FROM t").data()[0][0] == 2


def test_existing_ids_probe(ex, fx):
    ex.save("t", fx, SaveStrategy.REPLACE)
    assert sorted(ex.select_existing_ids("t", "id", [2, 3, 99])) == [2, 3]


def test_save_replace_atomic_on_failure(spark, ex, fx):
    """REPLACE must be transactional on sqlite too (r16 self-review:
    Python's sqlite3 runs DDL in autocommit, so the DROP committed
    immediately and a failed insert left an EMPTY table where the
    original data had been). A mid-insert PK violation now rolls the
    whole drop+create+insert back to the pre-call table."""
    ex.save("t", fx, SaveStrategy.REPLACE)
    bad = FxFrame.from_series(
        spark,
        {"id": [10, 10], "name": ["x", "y"], "val": [1.0, 2.0]},  # dup PK
        index="id",
    )
    with pytest.raises(Exception):
        ex.save("t", bad, SaveStrategy.REPLACE)
    rows = ex.raw_select("SELECT id, name FROM t ORDER BY id").data()
    assert [(r[0], r[1]) for r in rows] == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_save_upsert_refuses_null_index(spark, ex, fx):
    """A NULL upsert key never matches the probe, so the row cannot be
    upserted by key — refused loudly instead."""
    ex.save("t", fx, SaveStrategy.UPSERT)
    withnull = FxFrame.from_series(
        spark,
        {"id": [5, None], "name": ["e", "ghost"], "val": [5.0, 6.0]},
        index="id",
    )
    with pytest.raises(ValueError, match="NULL"):
        ex.save("t", withnull, SaveStrategy.UPSERT)


def test_save_upsert_date_and_timestamp_keys_on_sqlite(spark, ex):
    """sqlite hands DATE/TIMESTAMP keys back from the probe as the ISO
    text they were bound as; the upsert split must still match them to
    the frame's date/datetime keys and UPDATE instead of re-INSERTing."""
    import datetime as dt

    for key, later in (
        (dt.date(2024, 1, 2), dt.date(2024, 1, 3)),
        (dt.datetime(2024, 1, 2, 3, 4, 5, 6), dt.datetime(2024, 1, 3)),
    ):
        first = FxFrame.from_series(spark, {"k": [key], "v": ["a"]}, index="k")
        ex.save("dk", first, SaveStrategy.REPLACE)
        again = FxFrame.from_series(spark, {"k": [key, later], "v": ["A", "b"]}, index="k")
        assert ex.save("dk", again, SaveStrategy.UPSERT) == 2
        rows = ex._conn.execute("SELECT k, v FROM dk ORDER BY k").fetchall()
        # str() of a date/datetime is the ISO text _adapt binds
        assert rows == [(str(key), "A"), (str(later), "b")]


def test_compound_and_empty_in_on_sqlite(ex, fx):
    """Dialect edges verified live on sqlite (r16 self-review):
    (a) sqlite rejects parenthesized compound operands — the renderer
    now chains them bare, so Compound works on all three live
    backends; (b) an empty IN list renders the Spark-equivalent
    constant FALSE instead of the syntax error `IN ()`."""
    from fabrix_spark.plans.adt import Compound

    ex.save("t", fx, SaveStrategy.REPLACE)
    a = Select(table="t", columns=[Col("id")], filter=[Cond("id", "le", 2)])
    b = Select(table="t", columns=[Col("id")], filter=[Cond("id", "ge", 4)])
    got = sorted(r[0] for r in ex.select(Compound("union", [a, b])).data())
    assert got == [1, 2, 4]
    empty_in = Select(table="t", columns=[Col("id")], filter=[Cond("id", "in", [])])
    assert ex.select(empty_in).data() == []


def test_decimal_values_bind_and_render(spark, ex):
    """decimal.Decimal survives both write paths (r16 self-review):
    sqlite3 refuses to bind Decimal parameters (_adapt now renders it
    lexically) and render_value needs it for the upsert probe's IN
    list over a DECIMAL index key."""
    import decimal

    from fabrix_spark.plans.sqlgen import render_value

    assert render_value(decimal.Decimal("12.340")) == "12.340"
    df = spark.createDataFrame(
        [(1, decimal.Decimal("2.50")), (2, decimal.Decimal("3.75"))],
        "id long, amount decimal(10,2)",
    )
    fxd = FxFrame(df, index="id")
    ex.save("d", fxd, SaveStrategy.REPLACE)
    got = sorted(ex.raw_select("SELECT id, amount FROM d").data())
    assert [(r[0], float(r[1])) for r in got] == [(1, 2.5), (2, 3.75)]


def test_semi_join_and_cross_join_rendering():
    """semi/anti SQL renders only on duckdb (elsewhere the string is
    silently mis-parsed — refuse loudly); cross join renders WITHOUT
    the dangling ON clause (r16 self-review)."""
    from fabrix_spark.plans.adt import Join
    from fabrix_spark.plans.sqlgen import render_select

    semi = Select(
        table="t", columns=[Col("a", tbl="t")],
        joins=[Join("u", [("a", "b")], "semi")],
    )
    assert "SEMI JOIN" in render_select(semi, "duckdb")
    with pytest.raises(ValueError, match="semi"):
        render_select(semi, "sqlite")
    cross = Select(
        table="t", columns=[Col("a", tbl="t")], joins=[Join("u", [], "cross")]
    )
    sql = render_select(cross, "sqlite")
    assert sql.endswith('CROSS JOIN "u"') and " ON" not in sql
    with pytest.raises(ValueError, match="cross"):
        render_select(
            Select(table="t", columns=[Col("a", tbl="t")],
                   joins=[Join("u", [("a", "b")], "cross")]),
            "sqlite",
        )


def test_row_count_option(spark, fx, tmp_path):
    p = str(tmp_path / "pq_rc")
    write_parquet(fx, p)
    back = read_parquet(spark, p, ParquetReadOptions(row_count="rid"))
    assert "rid" in back.columns
    ids = [r["rid"] for r in back.collect()]
    assert len(set(ids)) == 4  # unique row ids


# ---------------------------------------------------------------------------
# round-2 DDL/introspection surface (mutation_ddl.rs:36-141,
# query_ddl.rs:76-244) + PK-enriched select + empty-result schemas
# ---------------------------------------------------------------------------


def test_ddl_golden_strings_per_dialect():
    from fabrix_spark.plans.sqlgen import (
        render_alter_modify_column,
        render_create_foreign_key,
        render_create_index,
        render_drop_foreign_key,
        render_drop_index,
    )

    assert (
        render_alter_modify_column("t", "c", "BIGINT", "mysql")
        == "ALTER TABLE `t` MODIFY COLUMN `c` BIGINT"
    )
    assert (
        render_alter_modify_column("t", "c", "BIGINT", "postgres")
        == 'ALTER TABLE "t" ALTER COLUMN "c" TYPE BIGINT'
    )
    with pytest.raises(ValueError, match="SQLite"):
        render_alter_modify_column("t", "c", "BIGINT", "sqlite")

    assert (
        render_create_index("t", ["a", "b"], unique=True, dialect="postgres")
        == 'CREATE UNIQUE INDEX "idx_t_a_b" ON "t" ("a", "b")'
    )
    assert render_drop_index("t", "idx_t_a", "mysql") == "DROP INDEX `idx_t_a` ON `t`"
    assert render_drop_index("t", "idx_t_a", "postgres") == 'DROP INDEX "idx_t_a"'

    assert (
        render_create_foreign_key("child", "parent_id", "parent", "id", dialect="postgres")
        == 'ALTER TABLE "child" ADD CONSTRAINT "fk_child_parent_id" '
        'FOREIGN KEY ("parent_id") REFERENCES "parent" ("id")'
    )
    assert (
        render_drop_foreign_key("child", "fk_child_parent_id", "mysql")
        == "ALTER TABLE `child` DROP FOREIGN KEY `fk_child_parent_id`"
    )
    assert (
        render_drop_foreign_key("child", "fk_child_parent_id", "postgres")
        == 'ALTER TABLE "child" DROP CONSTRAINT "fk_child_parent_id"'
    )


def test_pk_catalog_queries_per_dialect(ex, fx):
    from fabrix_spark.plans.sqlgen import render_primary_key_query

    # live on sqlite (pragma_table_info table-valued function)
    ex.create_table("tpk", fx)
    assert ex.get_primary_key("tpk") == "id"
    # golden per-dialect catalog SQL (query_ddl.rs:201-244)
    assert "KEY_COLUMN_USAGE" in render_primary_key_query("t", "mysql")
    assert "pg_index" in render_primary_key_query("t", "postgres")
    assert "information_schema" in render_primary_key_query("t", "ansi")


def test_index_and_constraint_introspection(ex, fx):
    ex.create_table("ti", fx)
    ex.create_index("ti", "name")
    ex.create_index("ti", ["val", "name"], unique=True, name="uq_vn")
    idx = dict(ex.list_indexes("ti"))
    assert idx["idx_ti_name"] is False
    assert idx["uq_vn"] is True
    cons = ex.table_constraints("ti")
    assert ("pk_ti", "PRIMARY KEY") in cons
    ex.drop_index("ti", "idx_ti_name")
    assert "idx_ti_name" not in dict(ex.list_indexes("ti"))


def test_fk_requires_non_sqlite(ex):
    with pytest.raises(NotImplementedError):
        ex.create_foreign_key("child", "pid", "parent", "id")
    with pytest.raises(NotImplementedError):
        ex.drop_foreign_key("child", "fk")


def test_select_include_primary_key(ex, fx):
    ex.save("t", fx, SaveStrategy.REPLACE)
    sel = Select(
        table="t", columns=[Col("name")], filter=[Cond("val", "gt", 2.0)],
        include_primary_key=True,
    )
    got = ex.select(sel)
    # PK prepended and index-tagged (ec.rs:555-591)
    assert got.columns[0] == "id"
    assert got.index_tag is not None and got.index_tag.name == "id"
    assert sorted(r[0] for r in got.data()) == [2, 3, 4]


def test_compile_select_fx_include_pk(spark, sf_dir):
    from fabrix_spark.plans import ParquetDirProvider, Select, compile_select_fx

    sel = Select(
        table="orders",
        columns=[Col("o_orderstatus")],
        include_primary_key=True,
    )
    fx2 = compile_select_fx(
        sel, ParquetDirProvider(spark, sf_dir), primary_key="o_orderkey"
    )
    assert fx2.columns[0] == "o_orderkey"
    assert fx2.index_tag is not None and fx2.index_tag.name == "o_orderkey"


def test_empty_select_preserves_types(ex, fx):
    ex.save("t", fx, SaveStrategy.REPLACE)
    sel = Select(table="t", columns=[Col("id"), Col("val")], filter=[Cond("val", "gt", 1e9)])
    got = ex.select(sel)
    assert got.height == 0
    assert dict(got.df.dtypes) == {"id": "bigint", "val": "double"}


def test_jdbc_live_roundtrip_derby(spark, tmp_path):
    """Live end-to-end exercise of the declared 100 TB SQL path
    (read_jdbc/write_jdbc) against Derby's embedded JDBC driver, which
    ships in Spark's own jars: write, table read, whole-query pushdown
    (the reference's execution model — the remote DB runs our rendered
    SQL, fabrix-sql/src/executor/ec.rs:550-581), partitionColumn
    parallel read, and filter pushdown into the scan."""
    from fabrix_spark.sources.sql import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    df = spark.range(100).selectExpr("id", "id * 2 as v")
    write_jdbc(df, url, "t1", mode="overwrite", driver=drv)

    back = read_jdbc(spark, url, table="t1", driver=drv)
    assert back.count() == 100
    # whole-query pushdown (Derby folds unquoted idents to upper case,
    # hence the quoting)
    q = read_jdbc(spark, url, query='SELECT "id", "v" FROM t1 WHERE "id" < 10', driver=drv)
    assert q.count() == 10 and set(q.columns) == {"id", "v"}
    # partitioned parallel read: 4 bound-ranged scans
    p = read_jdbc(
        spark, url, table="t1", partition_column='"id"',
        num_partitions=4, lower_bound=0, upper_bound=100, driver=drv,
    )
    assert p.rdd.getNumPartitions() == 4 and p.count() == 100
    # predicate pushdown reaches the JDBC scan node
    f = read_jdbc(spark, url, table="t1", driver=drv).filter("v >= 100")
    assert f.count() == 50
    assert "PushedFilters" in f._jdf.queryExecution().executedPlan().toString()


def test_jdbc_upsert_merge_shaped(spark, tmp_path):
    """upsert_jdbc = parallel staging write + one set-based
    delete-matched/insert-all transaction — the scale alternative to
    SqlExecutor's per-row UPDATE upsert, live against embedded Derby."""
    from fabrix_spark.sources.sql import read_jdbc, upsert_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/derbyup;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, tag string"
    )
    write_jdbc(base, url, "t", mode="overwrite", driver=drv)
    newer = spark.createDataFrame(
        [(2, "B"), (3, "C"), (4, "d")], "id bigint, tag string"
    )
    upsert_jdbc(newer, url, "t", key="id", driver=drv)
    got = {
        (r["id"], r["tag"])
        for r in read_jdbc(spark, url, table="t", driver=drv).collect()
    }
    assert got == {(1, "a"), (2, "B"), (3, "C"), (4, "d")}
    # staging table cleaned up
    import pytest as _pytest

    with _pytest.raises(Exception):
        read_jdbc(spark, url, table="t__stg", driver=drv).count()


def test_orc_roundtrip(spark, fx, tmp_path):
    from fabrix_spark.sources.files import read_orc, write_orc

    p = str(tmp_path / "orc")
    write_orc(fx, p)
    back = read_orc(spark, p, ParquetReadOptions(columns=["id", "val"], n_rows=3, index="id"))
    assert back.columns == ["id", "val"]
    assert back.height == 3
    assert back.index_tag is not None and back.index_tag.name == "id"


def test_xlsx_writer_roundtrip_values(tmp_path):
    import datetime as dt

    from fabrix_spark.sources.xlsx import stream_xlsx_rows, write_xlsx

    p = str(tmp_path / "w.xlsx")
    rows = [
        ["name", "n", "f", "flag", "d", "ts", "t"],
        ["a<&>\"quoted\"", 7, 2.5, True,
         dt.date(2020, 2, 29), dt.datetime(2021, 3, 1, 12, 30, 15), dt.time(6, 0, 0)],
        ["pre-1900-bug", -3, 0.125, False,
         dt.date(1900, 2, 28), dt.datetime(1900, 3, 1, 0, 0, 30), None],
    ]
    assert write_xlsx(rows, p) == 3
    back = list(stream_xlsx_rows(p))
    assert back[0] == rows[0]
    assert back[1] == rows[1]
    assert back[2] == rows[2][:6]  # trailing None cell not materialized
    # the phantom 1900-02-29 serial is never produced
    assert back[2][4] == dt.date(1900, 2, 28) and back[1][4] == dt.date(2020, 2, 29)


def test_excel_writer_frame_roundtrip(spark, fx, tmp_path):
    from fabrix_spark.sources.excel import XlReadOptions, read_excel_batches, write_excel

    p = str(tmp_path / "frame.xlsx")
    n = write_excel(fx, p)
    assert n == fx.height
    frames = list(read_excel_batches(spark, p, XlReadOptions(index="id")))
    assert len(frames) == 1
    back = frames[0]
    assert back.columns == fx.columns
    assert sorted(back.data()) == sorted(fx.data())


def test_jdbc_adt_pushdown_derby_matrix(spark, tmp_path):
    """Whole-query JDBC pushdown of the r8 ADT surface, LIVE against
    embedded Derby (the reference's execution model: the remote DB runs
    our rendered SQL — fabrix-sql/src/executor/ec.rs:550-581). The new
    'derby' dialect quotes every identifier (Derby upper-cases unquoted
    ones) and renders row limits as the standard OFFSET…FETCH (Derby
    has no LIMIT keyword). Matrix: every r8 node is either live-pushed
    or explicitly PINNED unexecutable, the same contract as the DDL
    rendering matrix.

    Live: base Select (+filter/order/limit/offset), IN-subquery,
    correlated EXISTS / NOT EXISTS, Compound UNION / UNION ALL /
    EXCEPT ALL / INTERSECT, FROM-subquery.
    Pinned: WinCol with PARTITION BY/ORDER BY inside OVER — Derby only
    accepts an EMPTY window specification (ROW_NUMBER() OVER ()), so
    the rendering is rejected by the engine, loudly."""
    from py4j.protocol import Py4JJavaError

    from fabrix_spark.plans import (
        Col,
        Cond,
        Exists,
        FnCol,
        NOT,
        Order,
        Select,
        WinCol,
        render_select,
    )
    from fabrix_spark.plans.adt import Compound
    from fabrix_spark.plans.sqlgen import render_compound
    from fabrix_spark.sources.sql import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/derbyadt;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    t1 = spark.range(20).selectExpr("id", "id * 2 as v", "id % 3 as g")
    t2 = spark.range(5, 10).selectExpr("id", "id * 10 as w")
    write_jdbc(t1, url, "t1", mode="overwrite", driver=drv)
    write_jdbc(t2, url, "t2", mode="overwrite", driver=drv)

    def push(sql):
        return read_jdbc(spark, url, query=sql, driver=drv)

    # base Select: filter + order + offset/fetch
    sel = Select(
        table="T1", columns=[Col("id"), Col("v")],
        filter=[Cond("v", "ge", 10)], order=[Order("id")], limit=5, offset=2,
    )
    got = push(render_select(sel, "derby"))
    assert [r["id"] for r in got.collect()] == [7, 8, 9, 10, 11]

    # IN-subquery
    sel = Select(
        table="T1", columns=[Col("id")],
        filter=[Cond("id", "in_select", Select(table="T2", columns=[Col("id")]))],
    )
    assert sorted(r["id"] for r in push(render_select(sel, "derby")).collect()) == [5, 6, 7, 8, 9]

    # correlated EXISTS and NOT EXISTS
    sub = Select(table="T2", columns=[Col("id")], filter=[Cond("w", "ge", 70)])
    for tokens, want in (
        ([Exists(sub, on=(("id", "id"),))], [7, 8, 9]),
        ([NOT, Exists(sub, on=(("id", "id"),))], sorted(set(range(20)) - {7, 8, 9})),
    ):
        sel = Select(table="T1", columns=[Col("id")], filter=tokens)
        assert sorted(r["id"] for r in push(render_select(sel, "derby")).collect()) == want

    # Compound set ops (Derby supports UNION [ALL] / EXCEPT [ALL] / INTERSECT)
    lo = Select(table="T1", columns=[Col("id")], filter=[Cond("id", "lt", 8)])
    hi = Select(table="T1", columns=[Col("id")], filter=[Cond("id", "ge", 5)])
    for op, want in (
        ("union", sorted(set(range(20)))),
        ("union_all", sorted(list(range(8)) + list(range(5, 20)))),
        ("except_all", [0, 1, 2, 3, 4]),
        ("intersect", [5, 6, 7]),
    ):
        cp = Compound(op, [lo, hi])
        assert sorted(r["id"] for r in push(render_compound(cp, "derby")).collect()) == want

    # FROM-subquery
    sel = Select(
        table=Select(table="T1", columns=[Col("id"), Col("g")], filter=[Cond("g", "eq", 0)]),
        columns=[FnCol("count", Col("id"), alias="n")],
        table_alias="z",
    )
    assert push(render_select(sel, "derby")).collect()[0]["n"] == 7

    # whole-compound ORDER BY + OFFSET/FETCH (Derby's row-limit syntax)
    cp = Compound("union_all", [lo, hi], order=[Order("id", desc=True)], limit=4, offset=1)
    got = [r["id"] for r in push(render_compound(cp, "derby")).collect()]
    assert got == [18, 17, 16, 15]  # OFFSET 1 skips 19, FETCH NEXT 4

    # PINNED: Derby rejects any non-empty OVER () — ROW_NUMBER with
    # ORDER BY (which our ranking WinCols require) cannot push down.
    win = Select(
        table="T1",
        columns=[Col("id"), WinCol("row_number", order=[Order("v", desc=True)], alias="rn")],
    )
    with pytest.raises(Py4JJavaError):
        push(render_select(win, "derby")).collect()

    # r9 string FnCols: TRIM and SUBSTR are live on Derby...
    write_jdbc(
        spark.createDataFrame([(1, "  padded  "), (2, "abcdef")], "id long, s string"),
        url, "t3", mode="overwrite", driver=drv,
    )
    sel = Select(
        table="T3",
        columns=[
            Col("id"),
            FnCol("trim", Col("s"), alias="t"),
            FnCol("substr", Col("s"), args=(2, 3), alias="mid"),
        ],
        order=[Order("id")],
    )
    got = [(r["id"], r["t"], r["mid"]) for r in push(render_select(sel, "derby")).collect()]
    assert got == [(1, "padded", " pa"), (2, "abcdef", "bcd")]

    # ...REPLACE is PINNED: Derby ships no REPLACE built-in (its string
    # surface is SUBSTR/TRIM/LOCATE/LCASE/UCASE), so the rendering is
    # rejected by the engine, loudly — same contract as WinCol above.
    rep = Select(
        table="T3", columns=[FnCol("replace", Col("s"), args=("abc", "x"), alias="r")]
    )
    with pytest.raises(Py4JJavaError):
        push(render_select(rep, "derby")).collect()


def test_iter_batches_column_wise_ragged_pads_and_empty_refused():
    """Sparse transposed sheets yield ragged columns: zip alone
    TRUNCATED every column to the shortest (silent row loss); they now
    pad with None like the row-wise path pads short rows. A headerless
    empty row under has_header=True is an error, and a header-only
    column-wise sheet yields no batches (nothing to type-infer)."""
    ragged = [["id", 1, 2, 3], ["name", "a"]]
    [(names, chunk)] = list(iter_batches(iter(ragged), XlReadOptions(is_column_wise=True)))
    assert names == ["id", "name"]
    assert chunk == [[1, "a"], [2, None], [3, None]]

    with pytest.raises(ValueError, match="headerless"):
        list(iter_batches(iter([["id", 1], []]), XlReadOptions(is_column_wise=True)))


def test_read_excel_batches_header_only_column_wise(spark):
    from fabrix_spark.sources.excel import read_excel_batches

    out = list(
        read_excel_batches(spark, iter([["id"], ["name"]]), XlReadOptions(is_column_wise=True))
    )
    assert out == []
