"""ADT serde + golden SQL strings + compiler vs DuckDB oracle.

Mirrors the reference's golden-string SQL tests
(fabrix-sql/src/builder/query_dml.rs:89-270) and ADT JSON serde tests
(sql_adt.rs:1031-1139), then goes further: every compiled DataFrame is
checked against DuckDB running the rendered SQL on the same parquet.
"""

import duckdb
import pytest

from fabrix_spark.plans import (
    AND,
    Col,
    Cond,
    FnCol,
    Join,
    Nest,
    NOT,
    OR,
    Order,
    ParquetDirProvider,
    Select,
    compile_select,
    render_select,
)
from fabrix_spark.plans.adt import validate_expressions
from fabrix_spark.queries import REGISTRY


def _oracle(sf_dir, sql):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).fetchall()


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _assert_same(df, sf_dir, sql, ordered=False):
    got = _rows(df)
    want = _oracle(sf_dir, sql)
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    assert got == want, f"mismatch for {sql}\nspark={got[:5]}\nduck={want[:5]}"


def test_select_json_roundtrip():
    sel = Select(
        table="lineitem",
        columns=[Col("l_orderkey"), FnCol("sum", Col("l_quantity"), alias="sum_qty")],
        filter=[
            Cond("l_quantity", "lt", 24.0),
            AND,
            Nest([Cond("l_returnflag", "eq", "A"), OR, Cond("l_returnflag", "eq", "R")]),
        ],
        group_by=["l_orderkey"],
        order=[Order("l_orderkey")],
        limit=10,
        offset=5,
    )
    again = Select.from_json(sel.to_json())
    assert again.to_json() == sel.to_json()


def test_select_json_roundtrip_distinct_having():
    sel = Select(
        table="orders",
        columns=[Col("o_custkey"), FnCol("count", Col("o_orderkey"), alias="n")],
        group_by=["o_custkey"],
        having=[Cond("n", "ge", 5), AND, Cond("o_custkey", "lt", 100)],
        distinct=True,
    )
    again = Select.from_json(sel.to_json())
    assert again.to_json() == sel.to_json()
    assert again.distinct and len(again.having) == 3


def test_having_requires_group_by():
    with pytest.raises(ValueError, match="group_by"):
        Select(table="orders", columns=[Col("o_custkey")], having=[Cond("o_custkey", "gt", 1)])


def test_having_unknown_name_is_loud(spark, sf_dir):
    from fabrix_spark.plans import ParquetDirProvider, compile_select

    sel = Select(
        table="orders",
        columns=[Col("o_custkey"), FnCol("count", Col("o_orderkey"), alias="n")],
        group_by=["o_custkey"],
        having=[Cond("nope", "ge", 5)],
    )
    with pytest.raises(ValueError, match="nope"):
        compile_select(sel, ParquetDirProvider(spark, sf_dir))


def test_golden_sql_distinct_having():
    sel = Select(
        table="orders",
        columns=[
            Col("o_custkey"),
            FnCol("count", Col("o_orderkey"), alias="n"),
        ],
        group_by=["o_custkey"],
        having=[Cond("n", "ge", 5), AND, Cond("o_custkey", "lt", 100)],
        order=[Order("o_custkey")],
    )
    assert render_select(sel) == (
        "SELECT o_custkey, count(o_orderkey) AS n FROM orders "
        "GROUP BY o_custkey HAVING count(o_orderkey) >= 5 AND o_custkey < 100 "
        "ORDER BY o_custkey ASC"
    )
    dsel = Select(
        table="customer",
        columns=[Col("c_mktsegment")],
        distinct=True,
    )
    assert render_select(dsel) == "SELECT DISTINCT c_mktsegment FROM customer"


def test_golden_sql_shape():
    sel = Select(
        table="orders",
        columns=[Col("o_orderkey"), Col("o_totalprice", alias="price")],
        filter=[
            Cond("o_orderstatus", "eq", "F"),
            OR,
            Nest([Cond("o_totalprice", "ge", 1000.0), AND, Cond("o_orderpriority", "like", "1%")]),
        ],
        order=[Order("o_orderkey", desc=True)],
        limit=3,
        offset=1,
    )
    assert render_select(sel) == (
        "SELECT o_orderkey, o_totalprice AS price FROM orders "
        "WHERE o_orderstatus = 'F' OR (o_totalprice >= 1000.0 AND o_orderpriority LIKE '1%') "
        "ORDER BY o_orderkey DESC LIMIT 3 OFFSET 1"
    )


def test_filter_fsm_rejects_illegal():
    with pytest.raises(ValueError):
        validate_expressions([AND, Cond("a", "eq", 1)])
    with pytest.raises(ValueError):
        validate_expressions([Cond("a", "eq", 1), Cond("b", "eq", 2)])
    with pytest.raises(ValueError):
        validate_expressions([Cond("a", "eq", 1), AND])
    with pytest.raises(ValueError):
        validate_expressions([NOT])
    # legal: NOT over nest, reference bd.rs:301-318
    validate_expressions([NOT, Nest([Cond("a", "eq", 1), OR, Cond("b", "eq", 2)])])


def test_compile_scan_filter_order_limit(spark, sf_dir):
    sel = Select(
        table="lineitem",
        columns=[Col("l_orderkey"), Col("l_quantity"), Col("l_returnflag")],
        filter=[
            Cond("l_quantity", "between", (10.0, 20.0)),
            AND,
            NOT,
            Cond("l_returnflag", "eq", "N"),
        ],
        order=[Order("l_orderkey"), Order("l_quantity", desc=True)],
        limit=50,
        offset=10,
    )
    df = compile_select(sel, ParquetDirProvider(spark, sf_dir))
    # offset/limit after an ORDER BY is deterministic given a total order;
    # add tiebreak-free comparison by comparing as multisets of rows
    _assert_same(df, sf_dir, render_select(sel), ordered=False)


def test_compile_in_like_isnull(spark, sf_dir):
    sel = Select(
        table="orders",
        columns=[Col("o_orderkey"), Col("o_orderpriority")],
        filter=[
            Cond("o_orderpriority", "in", ["1-URGENT", "2-HIGH"]),
            AND,
            Cond("o_orderstatus", "ne", "X"),
        ],
    )
    df = compile_select(sel, ParquetDirProvider(spark, sf_dir))
    _assert_same(df, sf_dir, render_select(sel))


def test_compile_groupby_aggs(spark, sf_dir):
    sel = Select(
        table="lineitem",
        columns=[
            Col("l_returnflag"),
            FnCol("count", Col("l_orderkey"), alias="n"),
            FnCol("max", Col("l_quantity"), alias="max_qty"),
            FnCol("min", Col("l_quantity"), alias="min_qty"),
        ],
        group_by=["l_returnflag"],
    )
    df = compile_select(sel, ParquetDirProvider(spark, sf_dir))
    _assert_same(df, sf_dir, render_select(sel))


def test_compile_join(spark, sf_dir):
    sel = Select(
        table="orders",
        columns=[
            Col("o_orderkey", tbl="orders"),
            Col("c_name", tbl="customer"),
        ],
        joins=[Join("customer", [("o_custkey", "c_custkey")], "inner")],
        filter=[Cond("o_totalprice", "gt", 50000.0, tbl="orders")],
    )
    df = compile_select(sel, ParquetDirProvider(spark, sf_dir))
    _assert_same(df, sf_dir, render_select(sel))


def test_compile_scalar_fns(spark, sf_dir):
    sel = Select(
        table="customer",
        columns=[
            Col("c_custkey"),
            FnCol("upper", Col("c_mktsegment"), alias="seg_u"),
            FnCol("lower", Col("c_name"), alias="name_l"),
            FnCol("char_length", Col("c_name"), alias="name_len"),
            FnCol("abs", Col("c_acctbal"), alias="bal_abs"),
            FnCol("cast", Col("c_custkey"), ("string",), alias="key_s"),
        ],
    )
    df = compile_select(sel, ParquetDirProvider(spark, sf_dir))
    _assert_same(df, sf_dir, render_select(sel).replace("AS string", "AS varchar"))


def test_qualified_cond_on_shared_column_name(spark, sf_dir):
    """Cond.tbl must qualify the Spark-side reference too: nation and
    region both expose a *key column whose bare name the compiler can
    resolve only through the table alias when both sides carry it."""
    sel = Select(
        table="nation",
        columns=[
            Col("n_name", tbl="nation"),
            Col("r_name", tbl="region"),
        ],
        joins=[Join("region", [("n_regionkey", "r_regionkey")], "inner")],
        filter=[Cond("n_regionkey", "in", [0, 1], tbl="nation")],
    )
    df = compile_select(sel, ParquetDirProvider(spark, sf_dir))
    _assert_same(df, sf_dir, render_select(sel))


def test_grouped_select_aliased_key_and_scalar_fn(spark, sf_dir):
    """Group keys may be projected with an alias or through a scalar
    function — those apply AFTER aggregation (the raw key is what was
    grouped on)."""
    sel = Select(
        table="customer",
        columns=[
            Col("c_mktsegment", alias="segment"),
            FnCol("count", Col("c_custkey"), alias="n"),
        ],
        group_by=["c_mktsegment"],
    )
    df = compile_select(sel, ParquetDirProvider(spark, sf_dir))
    assert df.columns == ["segment", "n"]
    _assert_same(df, sf_dir, render_select(sel))

    sel2 = Select(
        table="customer",
        columns=[
            FnCol("lower", Col("c_mktsegment"), alias="seg_lower"),
            FnCol("max", Col("c_acctbal"), alias="max_bal"),
        ],
        group_by=["c_mktsegment"],
    )
    df2 = compile_select(sel2, ParquetDirProvider(spark, sf_dir))
    assert df2.columns == ["seg_lower", "max_bal"]
    got = {r["seg_lower"] for r in df2.collect()}
    assert got and all(s == s.lower() for s in got)


# ---------------------------------------------------------------------------
# r8: window columns + QUALIFY, IN-subquery, EXISTS
# ---------------------------------------------------------------------------

from fabrix_spark.plans import Exists, WinCol  # noqa: E402


def test_wincol_validation():
    with pytest.raises(ValueError):
        WinCol("row_number")  # no order
    with pytest.raises(ValueError):
        WinCol("row_number", col=Col("x"), order=(Order("x"),))  # operand illegal
    with pytest.raises(ValueError):
        WinCol("sum")  # operand required
    with pytest.raises(ValueError):
        WinCol("ntile", order=(Order("x"),), args=(0,))
    with pytest.raises(ValueError):
        WinCol("sum", col=Col("x"), frame=("rows", -1, "current"))  # frame needs order
    with pytest.raises(ValueError):
        WinCol("rank", order=(Order("x"),), frame=("rows", -1, 0))  # frame on ranking fn
    with pytest.raises(ValueError):
        # windows cannot mix with group_by
        Select(
            table="orders",
            columns=[WinCol("row_number", order=(Order("o_orderkey"),), alias="rn")],
            group_by=["o_custkey"],
        )
    with pytest.raises(ValueError):
        # qualify requires a window column
        Select(table="orders", columns=[Col("o_orderkey")], qualify=[Cond("rn", "le", 2)])


def test_window_qualify_topk_vs_oracle(spark, sf_dir):
    """Serializable per-group top-k: row_number window + QUALIFY,
    identical rows from the Spark compiler and the rendered SQL."""
    sel = Select(
        table="orders",
        columns=[
            Col("o_custkey"),
            Col("o_orderkey"),
            Col("o_totalprice"),
            WinCol(
                "row_number",
                partition_by=("o_custkey",),
                order=(Order("o_totalprice", desc=True), Order("o_orderkey")),
                alias="rn",
            ),
        ],
        qualify=[Cond("rn", "le", 2)],
        order=[Order("o_custkey"), Order("rn")],
    )
    sel = Select.from_json(sel.to_json())  # serde round-trip before compiling
    df = compile_select(sel, ParquetDirProvider(spark, sf_dir))
    _assert_same(df, sf_dir, render_select(sel, "duckdb"), ordered=False)


def test_window_lag_frame_vs_oracle(spark, sf_dir):
    """lag + framed running sum over one serialized ADT."""
    sel = Select(
        table="orders",
        columns=[
            Col("o_custkey"),
            Col("o_orderkey"),
            WinCol(
                "lag",
                col=Col("o_totalprice"),
                partition_by=("o_custkey",),
                order=(Order("o_orderkey"),),
                args=(1, 0.0),
                alias="prev_price",
            ),
            WinCol(
                "sum",
                col=Col("o_totalprice"),
                partition_by=("o_custkey",),
                order=(Order("o_orderkey"),),
                frame=("rows", "unbounded_preceding", "current"),
                alias="run_total",
            ),
        ],
    )
    sel = Select.from_json(sel.to_json())
    df = compile_select(sel, ParquetDirProvider(spark, sf_dir))
    _assert_same(df, sf_dir, render_select(sel, "duckdb"))


def test_in_subquery_vs_oracle(spark, sf_dir):
    """The reference's existing-ids-probe shape as a serializable ADT
    (query_dml.rs:14-28): WHERE id IN (SELECT id FROM ...)."""
    sub = Select(
        table="orders",
        columns=[Col("o_custkey")],
        filter=[Cond("o_orderstatus", "eq", "O")],
    )
    sel = Select(
        table="customer",
        columns=[Col("c_custkey"), Col("c_name")],
        filter=[Cond("c_custkey", "in_select", sub), AND, Cond("c_acctbal", "gt", 0.0)],
    )
    sel = Select.from_json(sel.to_json())
    df = compile_select(sel, ParquetDirProvider(spark, sf_dir))
    _assert_same(df, sf_dir, render_select(sel, "duckdb"))


def test_not_in_subquery_null_semantics(spark, tmp_path):
    """SQL three-valued NOT IN: a NULL in the subquery result makes
    NOT IN yield NO rows — the join-based compilation must reproduce
    this, not the naive anti-join answer."""
    import duckdb as _dd

    spark.createDataFrame([(1,), (2,), (3,)], "k long").write.parquet(
        str(tmp_path / "outer.parquet")
    )
    spark.createDataFrame([(2, None), (9, 5)], "v long, w long").write.parquet(
        str(tmp_path / "inner.parquet")
    )
    sub_null = Select(table="inner", columns=[Col("w")])  # contains NULL
    sub_clean = Select(table="inner", columns=[Col("v")])  # no NULL
    prov = ParquetDirProvider(spark, str(tmp_path))
    con = _dd.connect()
    for t in ("outer", "inner"):
        # Spark writes a directory of part files
        con.execute(
            f'CREATE VIEW "{t}" AS SELECT * FROM \'{tmp_path}/{t}.parquet/*.parquet\''
        )

    for sub, expect in ((sub_null, 0), (sub_clean, 2)):
        sel = Select(
            table="outer", columns=[Col("k")], filter=[NOT, Cond("k", "in_select", sub)]
        )
        got = sorted(r["k"] for r in compile_select(sel, prov).collect())
        want = sorted(
            r[0] for r in con.execute(render_select(sel, "duckdb")).fetchall()
        )
        assert got == want and len(got) == expect


def test_exists_correlated_vs_oracle(spark, sf_dir):
    sub = Select(
        table="orders",
        columns=[Col("o_orderkey")],
        filter=[Cond("o_orderpriority", "eq", "1-URGENT")],
    )
    for tokens in (
        [Exists(sub, on=(("c_custkey", "o_custkey"),))],
        [NOT, Exists(sub, on=(("c_custkey", "o_custkey"),))],
    ):
        sel = Select(table="customer", columns=[Col("c_custkey")], filter=tokens)
        sel = Select.from_json(sel.to_json())
        df = compile_select(sel, ParquetDirProvider(spark, sf_dir))
        _assert_same(df, sf_dir, render_select(sel, "duckdb"))


def test_exists_uncorrelated(spark, sf_dir):
    """Uncorrelated EXISTS is a global boolean gate."""
    nonempty = Select(
        table="orders", columns=[Col("o_orderkey")], filter=[Cond("o_totalprice", "gt", 0.0)]
    )
    empty = Select(
        table="orders", columns=[Col("o_orderkey")], filter=[Cond("o_totalprice", "lt", -1.0)]
    )
    prov = ParquetDirProvider(spark, sf_dir)
    n_customers = compile_select(Select(table="customer"), prov).count()
    sel_t = Select(table="customer", columns=[Col("c_custkey")], filter=[Exists(nonempty)])
    sel_f = Select(table="customer", columns=[Col("c_custkey")], filter=[Exists(empty)])
    assert compile_select(sel_t, prov).count() == n_customers
    assert compile_select(sel_f, prov).count() == 0
    _assert_same(compile_select(sel_t, prov), sf_dir, render_select(sel_t, "duckdb"))
    _assert_same(compile_select(sel_f, prov), sf_dir, render_select(sel_f, "duckdb"))


def test_exists_over_from_subquery_vs_oracle(spark, sf_dir):
    """Correlated EXISTS whose inner FROM is itself a Select (r9 fix):
    the SQL rendering must qualify the correlation with the subquery's
    ALIAS, not the Select object — previously an AttributeError."""
    inner = Select(
        table=Select(
            table="orders",
            columns=[Col("o_custkey"), Col("o_totalprice")],
            filter=[Cond("o_orderpriority", "eq", "1-URGENT")],
        ),
        columns=[Col("o_custkey")],
        filter=[Cond("o_totalprice", "gt", 150000.0)],
        table_alias="urgent",
    )
    for tokens in (
        [Exists(inner, on=(("c_custkey", "o_custkey"),))],
        [NOT, Exists(inner, on=(("c_custkey", "o_custkey"),))],
    ):
        sel = Select(table="customer", columns=[Col("c_custkey")], filter=tokens)
        sel = Select.from_json(sel.to_json())
        df = compile_select(sel, ParquetDirProvider(spark, sf_dir))
        _assert_same(df, sf_dir, render_select(sel, "duckdb"))


def test_correlated_exists_rejects_limit_offset():
    """Spark compiles correlated EXISTS as an equi-join found-flag,
    which cannot honor a per-outer-row LIMIT; the SQL rendering would,
    so the combination is rejected at construction (backend-consistent
    instead of silently divergent, e.g. LIMIT 0)."""
    limited = Select(table="orders", columns=[Col("o_orderkey")], limit=1)
    offsetted = Select(table="orders", columns=[Col("o_orderkey")], offset=1)
    for sub in (limited, offsetted):
        with pytest.raises(ValueError, match="limit/offset"):
            Exists(sub, on=(("c_custkey", "o_custkey"),))
    # uncorrelated EXISTS may keep limit (global gate; EXISTS(LIMIT 1)
    # ≡ EXISTS, and both backends render/compile the same answer)
    Exists(limited)


def test_subquery_in_or_branch_vs_oracle(spark, sf_dir):
    """Subquery predicates are ordinary grammar operands — usable
    under OR/NOT/Nest, not just as top-level conjuncts (the join-based
    compilation attaches a helper flag instead of rewriting the plan,
    so boolean structure is preserved)."""
    sub = Select(
        table="orders",
        columns=[Col("o_custkey")],
        filter=[Cond("o_totalprice", "gt", 200000.0)],
    )
    sel = Select(
        table="customer",
        columns=[Col("c_custkey")],
        filter=[
            Cond("c_acctbal", "lt", -900.0),
            OR,
            Nest([Cond("c_custkey", "in_select", sub), AND, Cond("c_acctbal", "gt", 9000.0)]),
        ],
    )
    sel = Select.from_json(sel.to_json())
    df = compile_select(sel, ParquetDirProvider(spark, sf_dir))
    _assert_same(df, sf_dir, render_select(sel, "duckdb"))


def test_from_subquery_agg_then_window(spark, sf_dir):
    """r8 FROM-subquery: aggregate-then-window composed in ONE
    serializable Select (the staged query the flat grammar previously
    could not express)."""
    inner = Select(
        table="orders",
        columns=[
            Col("o_custkey"),
            FnCol("count", Col("o_orderkey"), alias="n_orders"),
        ],
        group_by=["o_custkey"],
    )
    outer = Select(
        table=inner,
        columns=[
            Col("o_custkey"),
            Col("n_orders"),
            WinCol(
                "rank",
                order=(Order("n_orders", desc=True), Order("o_custkey")),
                alias="rnk",
            ),
        ],
        qualify=[Cond("rnk", "le", 10)],
        order=[Order("rnk"), Order("o_custkey")],
    )
    outer = Select.from_json(outer.to_json())  # serde round-trip
    df = compile_select(outer, ParquetDirProvider(spark, sf_dir))
    _assert_same(df, sf_dir, render_select(outer, "duckdb"), ordered=True)


def test_from_subquery_join_and_alias(spark, sf_dir):
    """A FROM-subquery joins to a real table under its alias; filter
    conds qualify with the alias on both backends."""
    from fabrix_spark.plans import Join

    inner = Select(
        table="orders",
        columns=[
            Col("o_custkey"),
            FnCol("count", Col("o_orderkey"), alias="n_orders"),
        ],
        group_by=["o_custkey"],
    )
    outer = Select(
        table=inner,
        table_alias="ag",
        columns=[Col("c_name", tbl="customer"), Col("n_orders", tbl="ag")],
        joins=[Join("customer", [("o_custkey", "c_custkey")])],
        filter=[Cond("n_orders", "ge", 15, tbl="ag")],
    )
    outer = Select.from_json(outer.to_json())
    df = compile_select(outer, ParquetDirProvider(spark, sf_dir))
    _assert_same(df, sf_dir, render_select(outer, "duckdb"))


def test_compound_set_ops_vs_oracle(spark, sf_dir):
    """All six Compound ops over three operands (left-assoc fold),
    serde round-tripped, equal to the rendered SQL on DuckDB."""
    from fabrix_spark.plans import Compound, compile_compound, render_compound

    a = Select(
        table="orders",
        columns=[Col("o_custkey", alias="k")],
        filter=[Cond("o_orderstatus", "eq", "O")],
    )
    b = Select(
        table="orders",
        columns=[Col("o_custkey", alias="k")],
        filter=[Cond("o_totalprice", "gt", 150000.0)],
    )
    c = Select(
        table="customer",
        columns=[Col("c_custkey", alias="k")],
        filter=[Cond("c_acctbal", "lt", 0.0)],
    )
    for op in ("union", "union_all", "intersect", "intersect_all", "except", "except_all"):
        cp = Compound(op=op, selects=[a, b, c], order=[Order("k")])
        cp = Compound.from_json(cp.to_json())
        df = compile_compound(cp, ParquetDirProvider(spark, sf_dir))
        _assert_same(df, sf_dir, render_compound(cp, "duckdb"))


def test_compound_validation():
    from fabrix_spark.plans import Compound

    one = Select(table="orders", columns=[Col("o_custkey")])
    two = Select(table="orders", columns=[Col("o_custkey"), Col("o_orderkey")])
    with pytest.raises(ValueError, match="at least two"):
        Compound(op="union", selects=[one])
    with pytest.raises(ValueError, match="column count"):
        Compound(op="union", selects=[one, two])
    with pytest.raises(ValueError, match="unknown compound"):
        Compound(op="minus", selects=[one, one])


# the 19 adt_* registry queries plus event queries reading through
# queries._events (its nanosAsLong conf is part of the resolver's key)
ADT_QUERIES = sorted(n for n in REGISTRY if n.startswith("adt_"))
EVENT_QUERIES = ("e_tumbling_hourly", "e_funnel", "w_lag_delta_events", "e_gap_islands")


def test_adt_and_event_queries_match_duckdb_oracles(spark, sf_dir, verify_local):
    """Every adt_* registry query and a sample of the events queries
    hash-match their DuckDB oracles (verify_local's exact compare), so
    a table-resolution drift fails the default run, not only the
    manual sweep."""
    assert len(ADT_QUERIES) == 19
    con = verify_local.oracle_con(sf_dir)
    errors = {}
    for name in ADT_QUERIES + list(EVENT_QUERIES):
        qd = REGISTRY[name]
        s_tbl = qd.fn(spark, sf_dir).toArrow()
        err = verify_local.compare(s_tbl, con.execute(qd.oracle).arrow())
        if err or s_tbl.num_rows == 0:
            errors[name] = err or "empty result"
    assert not errors, errors


def test_adt_queries_compile_without_spark_jobs(spark, sf_dir, spark_jobs):
    """Once its tables are resolved, compiling an adt_* query builds a
    plan and starts no Spark job (no per-compile schema inference)."""
    for name in ADT_QUERIES:
        REGISTRY[name].fn(spark, sf_dir)
    jobs = {name: spark_jobs(lambda: REGISTRY[name].fn(spark, sf_dir)) for name in ADT_QUERIES}
    assert jobs == {name: 0 for name in ADT_QUERIES}
