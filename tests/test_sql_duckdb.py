"""SqlExecutor live against DuckDB — the second live SQL engine.

The reference executes against MySQL/Postgres/SQLite through sqlx
(fabrix-sql/src/executor/ec.rs:388-403, 484-538); this container has no
server databases, so DuckDB (bundled) is the second LIVE engine behind
the same DB-API surface: full save-strategy matrix, DDL, catalog
introspection, ADT select and delete — plus live execution of the
POSTGRES-dialect renderings DuckDB's postgres-compatible grammar
accepts (the subset that previously existed only as golden strings).
"""

import duckdb
import pytest

from fabrix_spark.frame import FxFrame
from fabrix_spark.plans.adt import Col, Cond, Delete, FnCol, Select
from fabrix_spark.sources.sql import SaveStrategy, SqlExecutor
from fabrix_spark.types import ValueType


@pytest.fixture()
def fx(spark):
    return FxFrame.from_series(
        spark,
        {"id": [1, 2, 3, 4], "name": ["a", "b", "c", "d"], "val": [1.5, 2.5, 3.5, 4.5]},
        index="id",
    )


@pytest.fixture()
def ex(spark):
    db = duckdb.connect(":memory:")
    return SqlExecutor(spark, lambda: db, dialect="duckdb")


def test_duckdb_ddl_surface(ex, fx):
    ex.create_table("t1", fx)
    assert ex.table_exists("t1") and "t1" in ex.list_tables()
    assert ex.get_primary_key("t1") == "id"
    schema = dict(ex.table_schema("t1"))
    assert schema["id"] == "BIGINT" and schema["val"] == "DOUBLE"
    ex.add_column("t1", "extra", ValueType.STRING)
    assert "extra" in dict(ex.table_schema("t1"))
    ex.drop_column("t1", "extra")
    assert "extra" not in dict(ex.table_schema("t1"))
    # in-place retype — the postgres ALTER COLUMN TYPE rendering,
    # executed LIVE (sqlite can't do this at all)
    ex.modify_column("t1", "val", ValueType.STRING)
    assert dict(ex.table_schema("t1"))["val"] == "VARCHAR"
    ex.rename_table("t1", "t2")
    assert ex.table_exists("t2") and not ex.table_exists("t1")
    ex.truncate_table("t2")
    assert ex.raw_select('SELECT count(*) AS n FROM "t2"').data()[0][0] == 0
    ex.drop_table("t2")
    assert not ex.table_exists("t2")


@pytest.mark.slow
def test_duckdb_save_matrix(spark, ex, fx):
    # FailIfExists
    assert ex.save("t", fx, SaveStrategy.FAIL_IF_EXISTS) == 4
    with pytest.raises(ValueError, match="FailIfExists"):
        ex.save("t", fx, SaveStrategy.FAIL_IF_EXISTS)
    # Replace is idempotent
    ex.save("t", fx, SaveStrategy.REPLACE)
    ex.save("t", fx, SaveStrategy.REPLACE)
    assert ex.raw_select('SELECT count(*) AS n FROM "t"').data()[0][0] == 4
    # Append inserts fresh keys (PK enforced by the engine)
    more = FxFrame.from_series(
        spark,
        {"id": [5, 6], "name": ["e", "f"], "val": [5.5, 6.5]},
        index="id",
    )
    ex.save("t", more, SaveStrategy.APPEND)
    assert ex.raw_select('SELECT count(*) AS n FROM "t"').data()[0][0] == 6
    # Upsert: probe-and-split, updates matched keys, inserts the rest
    upd = FxFrame.from_series(
        spark,
        {"id": [3, 4, 9], "name": ["C", "D", "I"], "val": [30.0, 40.0, 90.0]},
        index="id",
    )
    ex.save("t", upd, SaveStrategy.UPSERT)
    rows = dict(
        (r[0], (r[1], r[2]))
        for r in ex.raw_select('SELECT id, name, val FROM "t" ORDER BY id').data()
    )
    assert len(rows) == 7
    assert rows[3] == ("C", 30.0) and rows[9] == ("I", 90.0)
    assert rows[1] == ("a", 1.5)  # untouched


def test_duckdb_save_rolls_back_atomically(spark, ex, fx):
    """A failed save leaves the table exactly as before: DuckDB
    autocommits per statement, so the executor must open an explicit
    transaction — this pins that it does."""
    ex.save("t", fx, SaveStrategy.REPLACE)
    # PK violation on the last row: ids 7 (new) then 1 (duplicate)
    dup = FxFrame.from_series(
        spark, {"id": [7, 1], "name": ["g", "dup"], "val": [7.0, 0.0]}, index="id"
    )
    with pytest.raises(Exception):
        ex.save("t", dup, SaveStrategy.APPEND)
    got = ex.raw_select('SELECT id, name FROM "t" ORDER BY id').data()
    assert [r[0] for r in got] == [1, 2, 3, 4]  # id 7 NOT half-inserted
    assert got[0][1] == "a"


def test_duckdb_excel_upsert_one_spark_job_per_save(spark, ex, tmp_path):
    """Excel->DuckDB REPLACE then UPSERT: at most one Spark job per save
    and the last write per key, value by value in DuckDB's native types."""
    from tests.xlsx_fixture import excel_to_db_run

    jobs, expected = excel_to_db_run(spark, ex, str(tmp_path / "sheet.xlsx"))
    assert len(jobs) == 2 and max(jobs) <= 1, jobs
    got = ex._conn.execute(
        'SELECT id, name, price, day, ts, flag FROM "sheet" ORDER BY id'
    ).fetchall()
    assert got == [expected[k] for k in sorted(expected)]
    assert len(got) == 20 and got[7][1] is None and got[15][1] == "u15"


def test_duckdb_select_adt_and_delete(ex, fx):
    ex.save("t", fx, SaveStrategy.REPLACE)
    sel = Select(table="t", columns=[Col("id"), Col("val")], filter=[Cond("val", "gt", 2.0)])
    got = ex.select(sel)
    assert sorted(r[0] for r in got.data()) == [2, 3, 4]
    # DuckDB reports rowcount -1; the executor reads the Count result
    n = ex.delete(Delete(table="t", filter=[Cond("id", "in", [1, 2])]))
    assert n == 2
    assert ex.raw_select('SELECT count(*) AS n FROM "t"').data()[0][0] == 2


def test_duckdb_existing_ids_probe(ex, fx):
    ex.save("t", fx, SaveStrategy.REPLACE)
    assert sorted(ex.select_existing_ids("t", "id", [2, 3, 99])) == [2, 3]


def test_duckdb_index_and_constraint_introspection(ex, fx):
    ex.save("t", fx, SaveStrategy.REPLACE)
    ex.create_index("t", "name", unique=True, name="uq_name")
    ex.create_index("t", ["val"], name="ix_val")
    idx = dict(ex.list_indexes("t"))
    assert idx["uq_name"] is True and idx["ix_val"] is False
    ex.drop_index("t", "ix_val")
    assert "ix_val" not in dict(ex.list_indexes("t"))
    cons = dict(ex.table_constraints("t"))
    assert cons.get("t_id_pkey") == "PRIMARY KEY"


def test_duckdb_fk_gated(ex):
    with pytest.raises(NotImplementedError):
        ex.create_foreign_key("t", "id", "p", "k")
    with pytest.raises(NotImplementedError):
        ex.drop_foreign_key("t", "fk")


def test_duckdb_empty_select_preserves_types(ex, fx):
    ex.save("t", fx, SaveStrategy.REPLACE)
    sel = Select(table="t", columns=[Col("id"), Col("val")], filter=[Cond("id", "gt", 999)])
    out = ex.select(sel)
    assert out.height == 0
    assert [f.dataType.simpleString() for f in out.df.schema.fields] == ["bigint", "double"]


# ---------------------------------------------------------------------------
# Postgres-dialect renderings executed LIVE on DuckDB's pg-compatible
# grammar (previously golden-string-only; MySQL-compatible renderings
# already run live on a backtick engine in test_sqlgen_golden.py)
# ---------------------------------------------------------------------------


def _pg_conn(fx_rows):
    con = duckdb.connect(":memory:")
    con.execute('CREATE TABLE "t" (id BIGINT PRIMARY KEY, name VARCHAR, val DOUBLE)')
    con.executemany('INSERT INTO "t" VALUES (?, ?, ?)', fx_rows)
    return con


_ROWS = [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5), (4, "d", 4.5)]


def test_postgres_select_renderings_execute_live():
    from fabrix_spark.plans.sqlgen import render_select

    con = _pg_conn(_ROWS)
    sel = Select(
        table="t",
        columns=[Col("name"), FnCol("sum", Col("val"), alias="total")],
        filter=[Cond("id", "between", (1, 3))],
        group_by=["name"],
    )
    sql = render_select(sel, "postgres")
    assert '"t"' in sql  # postgres double-quote idiom
    got = sorted(con.execute(sql).fetchall())
    assert got == [("a", 1.5), ("b", 2.5), ("c", 3.5)]


def test_postgres_delete_rendering_executes_live():
    from fabrix_spark.plans.sqlgen import render_delete

    con = _pg_conn(_ROWS)
    con.execute(render_delete(Delete(table="t", filter=[Cond("val", "ge", 3.0)]), "postgres"))
    assert con.execute('SELECT count(*) FROM "t"').fetchone()[0] == 2


def test_postgres_ddl_renderings_execute_live():
    from fabrix_spark.plans.sqlgen import (
        render_alter_add_column,
        render_alter_drop_column,
        render_alter_modify_column,
        render_create_index,
        render_drop_index,
        render_indexes_query,
    )

    con = _pg_conn(_ROWS)
    con.execute(render_alter_add_column("t", "extra", "BIGINT", "postgres"))
    con.execute(render_alter_drop_column("t", "extra", "postgres"))
    # postgres ALTER COLUMN TYPE spelling runs as-is on DuckDB
    con.execute(render_alter_modify_column("t", "val", "VARCHAR", "postgres"))
    assert con.execute(
        "SELECT data_type FROM information_schema.columns "
        "WHERE table_name='t' AND column_name='val'"
    ).fetchone()[0] == "VARCHAR"
    con.execute(render_create_index("t", ["name"], "ix_pg", unique=True, dialect="postgres"))
    # the postgres pg_indexes introspection rendering is live too
    idx = dict(con.execute(render_indexes_query("t", "postgres")).fetchall())
    assert idx["ix_pg"] is True
    con.execute(render_drop_index("t", "ix_pg", "postgres"))
    assert "ix_pg" not in dict(con.execute(render_indexes_query("t", "postgres")).fetchall())


def test_postgres_insert_update_renderings_execute_live():
    from fabrix_spark.plans.sqlgen import render_insert, render_update_by_key

    con = _pg_conn(_ROWS)
    con.execute(render_insert("t", ["id", "name", "val"], [(5, "e", 5.5), (6, "f", 6.5)], "postgres"))
    assert con.execute('SELECT count(*) FROM "t"').fetchone()[0] == 6
    for stmt in render_update_by_key(
        "t", ["id", "name", "val"], [(5, "E", 50.0)], key="id", dialect="postgres"
    ):
        con.execute(stmt)
    assert con.execute('SELECT name, val FROM "t" WHERE id = 5').fetchone() == ("E", 50.0)


def test_duckdb_typed_roundtrip(spark, ex):
    """DATE / TIMESTAMP / BLOB / DOUBLE / BOOLEAN survive the
    save→read cycle with real types on both ends (the _adapt ISO-string
    parameters parse back into DuckDB's native types; the catalog-
    driven schema keeps Spark types honest)."""
    import datetime as dt

    fx = FxFrame.from_series(
        spark,
        {
            "id": [1, 2],
            "d": [dt.date(2024, 1, 2), dt.date(2024, 6, 30)],
            "ts": [dt.datetime(2024, 1, 2, 3, 4, 5), dt.datetime(2024, 12, 31, 23, 59, 59)],
            "b": [b"\x00\x01", b"xyz"],
            "f": [1.5, -2.25],
            "ok": [True, False],
        },
        index="id",
    )
    assert ex.save("tt", fx, SaveStrategy.REPLACE) == 2
    schema = dict(ex.table_schema("tt"))
    assert schema["d"] == "DATE" and schema["ts"] == "TIMESTAMP" and schema["b"] == "BLOB"
    out = ex.raw_select('SELECT * FROM "tt" ORDER BY id')
    rows = [tuple(r) for r in out.df.collect()]
    assert rows[0] == (1, dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5), b"\x00\x01", 1.5, True)
    assert rows[1][3] == b"xyz" and rows[1][5] is False
    assert [f.dataType.simpleString() for f in out.df.schema.fields] == [
        "bigint", "date", "timestamp", "binary", "double", "boolean",
    ]


def test_duckdb_subquery_predicates_live(spark, ex, fx):
    """r8 grammar live on the second engine: SELECT with IN-subquery /
    correlated EXISTS, and DELETE with an IN-subquery filter — the
    same ADT objects the Spark compiler executes, rendered in the
    executor's dialect and run end-to-end on DuckDB."""
    from fabrix_spark.plans.adt import Exists, NOT

    ex.save("t", fx, SaveStrategy.REPLACE)
    other = FxFrame.from_series(
        spark, {"ref_id": [2, 4, 9], "tag": ["x", "y", "z"]}, index="ref_id"
    )
    ex.save("refs", other, SaveStrategy.REPLACE)

    sub = Select(table="refs", columns=[Col("ref_id")], filter=[Cond("tag", "ne", "z")])
    sel = Select(table="t", columns=[Col("id")], filter=[Cond("id", "in_select", sub)])
    assert sorted(r[0] for r in ex.select(sel).data()) == [2, 4]

    sel_not = Select(
        table="t", columns=[Col("id")], filter=[NOT, Cond("id", "in_select", sub)]
    )
    assert sorted(r[0] for r in ex.select(sel_not).data()) == [1, 3]

    sel_ex = Select(
        table="t",
        columns=[Col("id")],
        filter=[Exists(Select(table="refs", columns=[Col("tag")]),
                       on=(("id", "ref_id"),))],
    )
    assert sorted(r[0] for r in ex.select(sel_ex).data()) == [2, 4]

    # DELETE WHERE id IN (SELECT ...) — live, counted
    n = ex.delete(Delete(table="t", filter=[Cond("id", "in_select", sub)]))
    assert n == 2
    assert sorted(r[0] for r in ex.raw_select('SELECT id FROM "t"').data()) == [1, 3]


def test_duckdb_window_qualify_live(spark, ex, fx):
    """r8 window grammar live: WinCol + QUALIFY rendered in the
    executor's dialect and executed by DuckDB."""
    from fabrix_spark.plans.adt import Order, WinCol

    ex.save("t", fx, SaveStrategy.REPLACE)
    sel = Select(
        table="t",
        columns=[
            Col("id"),
            WinCol("row_number", order=(Order("val", desc=True),), alias="rn"),
        ],
        qualify=[Cond("rn", "le", 2)],
        order=[Order("rn")],
    )
    got = ex.select(sel).data()
    assert [r[0] for r in got] == [4, 3]  # two highest vals


def test_duckdb_compound_live(spark, ex, fx):
    """Compound (set-op) ADT executes live through the executor."""
    from fabrix_spark.plans.adt import Compound, Order

    ex.save("t", fx, SaveStrategy.REPLACE)
    lo = Select(table="t", columns=[Col("id")], filter=[Cond("val", "lt", 3.0)])
    hi = Select(table="t", columns=[Col("id")], filter=[Cond("val", "gt", 2.0)])
    got = ex.select(
        Compound(op="intersect", selects=[lo, hi], order=[Order("id")])
    ).data()
    assert [r[0] for r in got] == [2]  # val=2.5 is in both
    got2 = ex.select(Compound(op="union_all", selects=[lo, hi])).data()
    assert sorted(r[0] for r in got2) == [1, 2, 2, 3, 4]
