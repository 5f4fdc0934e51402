"""Property-based tests (Hypothesis) for the pure layers — the
reference only tests these by example (SURVEY.md §5: serde round-trips
at value.rs:985-1099, sql_adt.rs:1031-1139); properties cover the
space. All driver-side pure functions — no SparkSession."""

import datetime as dt
import decimal
import json
import uuid

import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from fabrix_spark.io.wire import _dec, _enc
from fabrix_spark.plans.adt import (
    AND,
    Col,
    Cond,
    FnCol,
    Join,
    Nest,
    NOT,
    OR,
    Order,
    Select,
    validate_expressions,
)
from fabrix_spark.types import ValueType, infer_series_type, infer_value_type, normalize_value

# ---------------------------------------------------------------------------
# wire scalar encode/decode round-trip per ValueType
# ---------------------------------------------------------------------------

_scalar_strategies = {
    ValueType.BOOL: st.booleans(),
    ValueType.I64: st.integers(min_value=-(2**62), max_value=2**62),
    ValueType.F64: st.floats(allow_nan=False, allow_infinity=False, width=64),
    ValueType.STRING: st.text(max_size=80),
    ValueType.DATE: st.dates(min_value=dt.date(1, 1, 10), max_value=dt.date(9999, 12, 20)),
    ValueType.DATETIME: st.datetimes(
        min_value=dt.datetime(1677, 9, 22), max_value=dt.datetime(2262, 4, 11)
    ),
    ValueType.BYTES: st.binary(max_size=64),
    ValueType.DECIMAL: st.decimals(
        allow_nan=False, allow_infinity=False, places=6, min_value=-(10**18), max_value=10**18
    ),
}


@given(st.sampled_from(sorted(_scalar_strategies, key=lambda v: v.value)), st.data())
@settings(max_examples=200, deadline=None)
def test_wire_scalar_roundtrip(vt, data):
    v = data.draw(_scalar_strategies[vt])
    encoded = _enc(v, vt)
    json.dumps(encoded)  # wire value must be JSON-safe
    back = _dec(encoded, vt)
    if vt is ValueType.DATETIME:
        # wire precision is ns; python datetime is µs — exact round-trip
        assert back == v
    elif vt is ValueType.DECIMAL:
        assert decimal.Decimal(back) == v
    else:
        assert back == v


@given(st.sampled_from(sorted(_scalar_strategies, key=lambda v: v.value)))
def test_wire_null_passthrough(vt):
    assert _enc(None, vt) is None and _dec(None, vt) is None


# ---------------------------------------------------------------------------
# inference / normalization invariants (series.rs:588-647 semantics)
# ---------------------------------------------------------------------------


@given(st.lists(st.one_of(st.none(), st.integers(-(2**31), 2**31)), max_size=20))
def test_first_non_null_inference(vals):
    vt = infer_series_type(vals)
    non_null = [v for v in vals if v is not None]
    if non_null:
        assert vt is infer_value_type(non_null[0])
    else:
        assert vt is ValueType.I64  # all-null default (series.rs:643-646)


@given(
    st.one_of(
        st.integers(-(2**31), 2**31),
        st.floats(allow_nan=False, allow_infinity=False),
        st.text(max_size=20),
        st.booleans(),
    ),
    st.sampled_from([ValueType.I64, ValueType.F64, ValueType.STRING, ValueType.BOOL]),
)
def test_normalize_lenient_never_raises(v, vt):
    out = normalize_value(v, vt, nullable=True)
    # lenient mode: value of the right (or widenable) type survives,
    # anything else becomes null — never an error (series.rs:588-591)
    if infer_value_type(v) is vt:
        assert out == v
    else:
        assert out is None or infer_value_type(v) is ValueType.I64  # int widening


# ---------------------------------------------------------------------------
# Select ADT JSON serde round-trip (sql_adt.rs:1085-1139)
# ---------------------------------------------------------------------------

_col = st.one_of(
    st.builds(Col, name=st.sampled_from(["a", "b", "c"]), alias=st.none() | st.just("x")),
    st.builds(
        FnCol,
        fn=st.sampled_from(["max", "min", "sum", "avg", "count", "abs", "lower", "upper"]),
        col=st.builds(Col, name=st.sampled_from(["a", "b"])),
        alias=st.none() | st.just("agg_x"),
    ),
)

_cond = st.one_of(
    st.builds(Cond, col=st.sampled_from(["a", "b"]), op=st.sampled_from(["eq", "gt", "le"]), value=st.integers(-100, 100)),
    st.builds(Cond, col=st.just("c"), op=st.just("in"), value=st.lists(st.integers(0, 9), min_size=1, max_size=4)),
    st.builds(Cond, col=st.just("a"), op=st.just("between"), value=st.tuples(st.integers(0, 5), st.integers(6, 10))),
    st.builds(Cond, col=st.just("b"), op=st.just("like"), value=st.just("%x%")),
)


@st.composite
def _filter_tokens(draw, depth=0):
    """Generate token lists the FSM accepts: operand (CONJ operand)*
    with optional NOT prefixes and nesting."""
    def operand():
        if depth < 2 and draw(st.booleans()) and draw(st.booleans()):
            return Nest(draw(_filter_tokens(depth + 1)))
        return draw(_cond)

    out = []
    if draw(st.booleans()):
        out.append(NOT)
    out.append(operand())
    for _ in range(draw(st.integers(0, 2))):
        out.append(draw(st.sampled_from([AND, OR])))
        if draw(st.booleans()):
            out.append(NOT)
        out.append(operand())
    return out


@given(
    st.builds(
        Select,
        table=st.just("t"),
        columns=st.lists(_col, max_size=4),
        filter=st.none() | _filter_tokens(),
        joins=st.lists(
            st.builds(Join, right=st.just("u"), on=st.just([("a", "a2")]), how=st.sampled_from(["inner", "left", "right"])),
            max_size=2,
        ),
        group_by=st.just([]),
        order=st.lists(st.builds(Order, col=st.sampled_from(["a", "b"]), desc=st.booleans()), max_size=2),
        limit=st.none() | st.integers(1, 1000),
        offset=st.none() | st.integers(0, 100),
    )
)
@settings(max_examples=150, deadline=None)
def test_select_adt_json_roundtrip(sel):
    payload = sel.to_json()
    json.dumps(payload)  # JSON-serializable wire shape
    back = Select.from_json(json.loads(json.dumps(payload)))
    assert back.to_json() == payload
    if back.filter:
        validate_expressions(back.filter)  # round-trip stays grammatical


def test_round_half_up_twins_match_spark_round_fuzz(spark):
    """Property fuzz for the numpy fast paths' rounding twins: over
    adversarial doubles (including exact .5 decimal boundaries at both
    scales and the 0.49999999999999994 binary-boundary pathology),
    _round_half_up == F.round(x) and _np_round6 == F.round(x, 6)
    element-for-element."""
    import numpy as np
    from hypothesis import given, settings, strategies as st
    from pyspark.sql import functions as F

    from fabrix_spark.operators.similarity import _np_round6, _round_half_up

    # adversarial pool: uniform doubles, exact k+0.5, exact 6-dp .5
    # boundaries, and the floor(x+0.5) pathology value
    base = st.one_of(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
        st.integers(min_value=-10**6, max_value=10**6).map(lambda k: k + 0.5),
        st.integers(min_value=-10**7, max_value=10**7).map(lambda k: (2 * k + 1) / 2e6),
        st.just(0.49999999999999994),
        st.just(-0.49999999999999994),
    )

    @settings(max_examples=30, deadline=None)
    @given(st.lists(base, min_size=1, max_size=50))
    def inner(vals):
        df = spark.createDataFrame([(float(v),) for v in vals], "v double")
        got = df.select(
            F.round("v").cast("long").alias("r0"), F.round("v", 6).alias("r6")
        ).collect()
        want0 = [_round_half_up(float(v)) for v in vals]
        want6 = list(_np_round6(np.asarray([float(v) for v in vals])))
        assert [r["r0"] for r in got] == want0
        assert [r["r6"] for r in got] == want6

    inner()


def test_np_quant_matches_decimal_round_on_float32_products():
    """_np_quant (binary floor(s+0.5)) vs Spark's decimal-HALF_UP
    round can only disagree when the double product sits within one
    ulp below k+0.5 with a shortest-repr still reading below .5 —
    unreachable for float32-widened inputs × 1e6 (29 trailing zero
    bits keep products away from that window). Pin the equivalence on
    the adversarial grid of products targeted AT k+0.5."""
    import decimal

    import numpy as np

    def np_quant(v):
        s = np.float64(v) * 1_000_000
        return int(np.floor(s + 0.5) if s >= 0 else np.ceil(s - 0.5))

    def dec_round(v):
        p = float(v) * 1_000_000
        return int(decimal.Decimal(repr(p)).quantize(decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP))

    for k in range(0, 200_000, 7):
        for sign in (1.0, -1.0):
            v = float(np.float32(sign * (k + 0.5) / 1e6))
            assert np_quant(v) == dec_round(v), v


@pytest.mark.slow
@given(
    vals=st.lists(st.integers(0, 9), min_size=1, max_size=60),
    k=st.integers(2, 7),
    parts=st.integers(1, 5),
)
@settings(max_examples=15, deadline=None)
def test_global_ntile_fuzz_matches_window(spark, vals, k, parts):
    """global_rank/global_ntile == the single-reducer window forms for
    ANY data (heavy ties included), bucket counts, and input
    partitionings — the total order (v, idx) makes both exact."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from fabrix_spark.operators.rank import global_ntile, global_rank

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "idx long, v long"
    ).repartition(parts)
    order = [F.col("v").asc(), F.col("idx").asc()]
    got_nt = {
        r["idx"]: r["nt"]
        for r in global_ntile(df, k, order, "nt", num_partitions=3).collect()
    }
    want_nt = {
        r["idx"]: r["nt"]
        for r in df.withColumn("nt", F.ntile(k).over(Window.orderBy(*order))).collect()
    }
    assert got_nt == want_nt
    ranked, total = global_rank(df, order, rank_col="r", num_partitions=3)
    got_r = {r["idx"]: r["r"] for r in ranked.collect()}
    want_r = {
        r["idx"]: r["r"]
        for r in df.withColumn("r", F.row_number().over(Window.orderBy(*order))).collect()
    }
    assert got_r == want_r and total == len(vals)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=8), min_size=1, max_size=6
    ),
    phrase=st.lists(st.sampled_from("ab"), min_size=1, max_size=3),
)
@settings(max_examples=15, deadline=None)
def test_phrase_search_fuzz_matches_bruteforce(spark, docs, phrase):
    """search_phrase over the positional index == a Python sliding-
    window scan, for arbitrary tiny corpora and phrases (overlap,
    repeats, absences)."""
    from fabrix_spark.operators.search import positional_index, search_phrase

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in search_phrase(positional_index(df), list(phrase)).collect()
    }
    want = {}
    for i, toks in enumerate(docs):
        n = sum(
            1
            for s in range(len(toks) - len(phrase) + 1)
            if toks[s : s + len(phrase)] == list(phrase)
        )
        if n:
            want[i] = n
    assert got == want


@pytest.mark.slow
@given(
    vals=st.lists(st.tuples(st.integers(0, 9), st.integers(0, 100)), min_size=1, max_size=60),
    parts=st.integers(1, 5),
)
@settings(max_examples=15, deadline=None)
def test_global_cumsum_fuzz_matches_window(spark, vals, parts):
    """global_cumsum == the single-reducer running-sum window for ANY
    data (ties included — (v, idx) is a total order), value signs,
    and input partitionings."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from fabrix_spark.operators.rank import global_cumsum

    df = spark.createDataFrame(
        [(i, v, x) for i, (v, x) in enumerate(vals)], "idx long, v long, x long"
    ).repartition(parts)
    order = [F.col("v").asc(), F.col("idx").asc()]
    got = {
        r["idx"]: r["cum_x"]
        for r in global_cumsum(df, order, ["x"], num_partitions=3).collect()
    }
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {r["idx"]: r["cx"] for r in df.withColumn("cx", F.sum("x").over(w)).collect()}
    assert got == want


def test_global_rank_offset_join_path(spark, monkeypatch):
    """The broadcast-join offsets path (the 100k+ partition shape) is
    value-identical to the inlined-map path, for both global_rank and
    global_cumsum, including the multi-column cumsum; the join path is
    forced by lowering OFFSET_JOIN_THRESHOLD below the partition count,
    and it leaks no helper columns."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators import rank as rank_mod

    df = spark.createDataFrame(
        [(i, (i * 37) % 11, (i * 13) % 7 - 3) for i in range(200)],
        "idx long, v long, x long",
    ).repartition(5)
    order = [F.col("v").asc(), F.col("idx").asc()]

    def both_paths(fn):
        monkeypatch.setattr(rank_mod, "OFFSET_JOIN_THRESHOLD", 1)
        joined = fn()
        monkeypatch.setattr(rank_mod, "OFFSET_JOIN_THRESHOLD", 4096)
        return joined, fn()

    (joined, n_join), (mapped, n_map) = both_paths(
        lambda: rank_mod.global_rank(df, order, "r", num_partitions=4)
    )
    assert n_map == n_join == 200
    rj = {r["idx"]: r["r"] for r in joined.collect()}
    assert rj == {r["idx"]: r["r"] for r in mapped.collect()}
    assert sorted(rj.values()) == list(range(1, 201))
    assert set(joined.columns) == {"idx", "v", "x", "r"}

    cj, cm = both_paths(
        lambda: rank_mod.global_cumsum(df, order, ["x", "v"], num_partitions=4)
    )
    j = {r["idx"]: (r["cum_x"], r["cum_v"]) for r in cj.collect()}
    assert j == {r["idx"]: (r["cum_x"], r["cum_v"]) for r in cm.collect()}
    assert set(cj.columns) == {"idx", "v", "x", "cum_x", "cum_v"}


def test_global_rank_auto_threshold_switches(spark, monkeypatch):
    """The offsets inline as a literal map up to OFFSET_JOIN_THRESHOLD
    partitions and ride a broadcast join above it — pinned by lowering
    the threshold so a 4-partition rank crosses it; both sides must stay
    value-identical."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators import rank as rank_mod

    df = spark.createDataFrame(
        [(i, (i * 7) % 13) for i in range(100)], "idx long, v long"
    )
    order = [F.col("v").asc(), F.col("idx").asc()]

    monkeypatch.setattr(rank_mod, "OFFSET_JOIN_THRESHOLD", 1)
    joined, _ = rank_mod.global_rank(df, order, "r", num_partitions=4)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # above the threshold: the join path

    monkeypatch.setattr(rank_mod, "OFFSET_JOIN_THRESHOLD", 4096)
    mapped, _ = rank_mod.global_rank(df, order, "r", num_partitions=4)
    plan = mapped._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan  # at or below it: the inlined map
    assert {(r["idx"], r["r"]) for r in joined.collect()} == {
        (r["idx"], r["r"]) for r in mapped.collect()
    }


@pytest.mark.slow
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=10),
        min_size=1,
        max_size=8,
    ),
    terms=st.lists(st.sampled_from(["aa", "bb", "cc", "zz"]), min_size=1, max_size=3),
)
@settings(max_examples=12, deadline=None)
def test_bm25_fused_fuzz_matches_index_path(spark, docs, terms):
    """bm25_scores_fused == bm25_scores(doc_token_counts(...)) for
    arbitrary tiny corpora: empty docs, absent terms, duplicate query
    terms, every-doc-matches, tf ties."""
    from fabrix_spark.operators.search import (
        bm25_scores,
        bm25_scores_fused,
        doc_token_counts,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(map(tuple, bm25_scores(doc_token_counts(df), terms).collect()))
    got = sorted(map(tuple, bm25_scores_fused(df, terms).collect()))
    assert got == want


@pytest.mark.slow
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([0.1, 0.2, 0.4, 0.4, 0.7, 0.9]),  # scores with ties
            st.booleans(),
            st.sampled_from(["x", "y"]),
        ),
        min_size=2,
        max_size=25,
    )
)
@settings(max_examples=10, deadline=None)
def test_auc_by_group_consistent_with_global(spark, rows):
    """Two consistency contracts under fuzz: (1) with a CONSTANT group,
    auc_by_group equals auc_one_vs_rest's class-0 row on the same data;
    (2) with real groups, each group's AUC equals auc_by_group run on
    that group's rows alone (no cross-group leakage through the shared
    window pass)."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators.metrics import auc_by_group, auc_one_vs_rest

    df = spark.createDataFrame(rows, "score double, pos boolean, seg string")
    const = auc_by_group(
        df.withColumn("g", F.lit(1)), "score", F.col("pos"), ["g"]
    ).collect()[0]
    glob = {
        r["cls"]: r
        for r in auc_one_vs_rest(
            df.select("score", F.when(F.col("pos"), 0).otherwise(1).alias("label")),
            "score",
            "label",
            [0],
        ).collect()
    }[0]
    if glob["n_pos"] > 0 and glob["n_neg"] > 0:
        assert abs(const["auc"] - glob["auc"]) < 1e-12
    else:
        assert const["auc"] is None

    by = {
        r["seg"]: r["auc"]
        for r in auc_by_group(df, "score", F.col("pos"), ["seg"]).collect()
    }
    for seg in {r[2] for r in rows}:
        alone = auc_by_group(
            df.filter(F.col("seg") == seg), "score", F.col("pos"), ["seg"]
        ).collect()[0]["auc"]
        if alone is None:
            assert by[seg] is None
        else:
            assert abs(by[seg] - alone) < 1e-12


@pytest.mark.slow
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([0.05, 0.2, 0.2, 0.5, 0.8, 0.8, 0.95]),
            st.booleans(),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=10, deadline=None)
def test_roc_pr_ap_fuzz_brute_force(spark, rows):
    """roc_points / pr_points / average_precision against plain-python
    counting over random tied scores — tp/fp exact per distinct score,
    AP within the 1e-12-unit quantization of its term sum."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators.metrics import (
        average_precision,
        pr_points,
        roc_points,
    )

    df = spark.createDataFrame(rows, "score double, pos boolean")
    P = sum(1 for _, p in rows if p)
    N = len(rows) - P

    def brute(t):
        tp = sum(1 for s, p in rows if p and s >= t)
        fp = sum(1 for s, p in rows if not p and s >= t)
        return tp, fp

    for r in roc_points(df, "score", F.col("pos")).collect():
        tp, fp = brute(r["score"])
        assert (r["tp"], r["fp"]) == (tp, fp)
        assert r["tpr"] == (tp / P if P else None)
        assert r["fpr"] == (fp / N if N else None)
    for r in pr_points(df, "score", F.col("pos")).collect():
        tp, fp = brute(r["score"])
        assert (r["tp"], r["fp"]) == (tp, fp)
        assert r["precision"] == tp / (tp + fp)

    got = average_precision(df, "score", F.col("pos")).collect()[0]
    assert (got["n"], got["n_pos"]) == (len(rows), P)
    if P == 0:
        assert got["ap"] is None
    else:
        want, prev_r = 0.0, 0.0
        for t in sorted({s for s, _ in rows}, reverse=True):
            tp, fp = brute(t)
            want += (tp / P - prev_r) * (tp / (tp + fp))
            prev_r = tp / P
        assert abs(got["ap"] - want) < 1e-9


@pytest.mark.slow
@given(
    scheme=st.sampled_from(["http", "HTTP", "https", "HtTpS"]),
    host=st.sampled_from(["Ex.COM", "ex.com", "A.b.C", "ex.com:443", "ex.com:8080"]),
    path=st.sampled_from(["", "/", "/P/q", "/a//b"]),
    params=st.lists(
        st.sampled_from(["a=1", "B=2", "utm_source=x", "gclid=9", "z=", ""]),
        max_size=4,
    ),
    frag=st.sampled_from(["", "#f", "#a?b=1"]),
)
@settings(max_examples=25, deadline=None)
def test_canonical_url_idempotent_fuzz(spark, scheme, host, path, params, frag):
    """canonical_url is IDEMPOTENT over generated http(s) URLs —
    canonicalizing a canonical URL is a no-op (the property a dedup
    key must have), and the output is always non-null and
    fragment-free."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators.text import canonical_url

    url = f"{scheme}://{host}{path}"
    if params:
        url += "?" + "&".join(params)
    url += frag
    df = spark.createDataFrame([(url,)], "url string")
    once, twice = df.select(
        canonical_url(F.col("url")).alias("c1"),
        canonical_url(canonical_url(F.col("url"))).alias("c2"),
    ).collect()[0]
    assert once is not None and once == twice
    assert "#" not in once and "utm_" not in once and "gclid" not in once


@pytest.mark.slow
@given(
    raw=st.one_of(
        st.text(
            alphabet="abzAZ09./?&=#:%-_ ", min_size=0, max_size=30
        ).filter(lambda s: "://" not in s.split("#", 1)[0].split("?", 1)[0]),
        st.sampled_from(
            [
                "example.com/a",
                "/relative/path?b=2&a=1",
                "//protocol-relative.com/x",
                "mailto:user@example.com",
                "",
                "   ",
                "example.com/a#frag",
                "/redirect?to=http://evil.example/x",
                "?only=query",
                "#only-frag",
            ]
        ),
    )
)
@settings(max_examples=40, deadline=None)
def test_canonical_url_schemeless_passthrough_fuzz(spark, raw):
    """Inputs with NO '://' before the first '?'/'#' are not absolute
    URLs: canonical_url passes them through UNCHANGED (the documented
    precondition guard) instead of mangling them into duplicated
    garbage like 'example.com/a://example.com/a'. A '://' that only
    appears inside the query string or fragment does not make the
    input absolute. NULL stays NULL."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators.text import canonical_url

    df = spark.createDataFrame([(raw,), (None,)], "url string")
    rows = df.select(
        "url", canonical_url(F.col("url")).alias("c")
    ).collect()
    by_in = {r["url"]: r["c"] for r in rows}
    assert by_in[raw] == raw
    assert by_in[None] is None


def _ref_bpe_merge(syms: list[str], left: str, right: str) -> list[str]:
    """Pure-Python greedy left-to-right NON-OVERLAPPING single merge —
    the textbook BPE scan bpe_apply_merge's fold must reproduce."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@given(
    words=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "ab", "bc"]), min_size=1, max_size=9),
        min_size=1,
        max_size=6,
    ),
    merges=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "ab", "bc", "aa", "ba", "abc"]),
            st.sampled_from(["a", "b", "c", "ab", "bc", "aa", "ba", "abc"]),
        ),
        min_size=1,
        max_size=4,
    ),
)
@settings(max_examples=25, deadline=None)
def test_bpe_apply_merge_chain_matches_greedy_scan(spark, words, merges):
    """A CHAIN of bpe_apply_merge folds over adversarial merge tables
    (left == right, merged tokens re-entering later merges, symbols
    that are themselves concatenations) equals the pure-Python greedy
    non-overlapping scan applied merge-by-merge — the semantics the
    trainer and encoder both build on (the existing pins are
    example-based; this covers the space)."""
    from pyspark.sql import functions as F

    from fabrix_spark.operators.text import bpe_apply_merge

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "i int, symbols array<string>"
    )
    col = F.col("symbols")
    for left, right in merges:
        col = bpe_apply_merge(col, left, right)
    got = {r["i"]: r["out"] for r in df.select("i", col.alias("out")).collect()}
    for i, w in enumerate(words):
        want = list(w)
        for left, right in merges:
            want = _ref_bpe_merge(want, left, right)
        assert got[i] == want, (w, merges)


@pytest.mark.slow
@given(
    corpus=st.lists(
        st.lists(st.sampled_from(["cat", "dog", "run", "the", "fish", "sun"]),
                 min_size=1, max_size=6),
        min_size=1,
        max_size=5,
    ),
    target=st.lists(
        st.lists(st.sampled_from(["cat", "fish", "moon", "sun"]),
                 min_size=1, max_size=4),
        min_size=1,
        max_size=3,
    ),
)
@settings(max_examples=15, deadline=None)
def test_dsir_weights_fuzz_python_reference(spark, corpus, target):
    """dsir_weights == the pure-Python DSIR replay over RANDOM corpora
    whose target is independent of the corpus (target-only buckets are
    generated by 'moon') — the integer weight must match exactly on
    every draw, not just the example-based pin."""
    import hashlib
    import math
    from collections import Counter

    from pyspark.sql import functions as F  # noqa: F401

    from fabrix_spark.operators.similarity import _round_half_up
    from fabrix_spark.operators.text import dsir_weights

    dim = 16

    def buckets(words):
        return Counter(
            int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % dim for w in words
        )

    src = Counter()
    for ws in corpus:
        src.update(buckets(ws))
    tgt = Counter()
    for ws in target:
        tgt.update(buckets(ws))
    ns, nt = sum(src.values()), sum(tgt.values())
    lr = {
        f: _round_half_up(
            (
                math.log((tgt.get(f, 0) + 1) / (nt + dim))
                - math.log((src.get(f, 0) + 1) / (ns + dim))
            )
            * 1_000_000
        )
        for f in set(src) | set(tgt)
    }
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpus)], "doc_id int, text string"
    )
    tdf = spark.createDataFrame(
        [(100 + i, " ".join(ws)) for i, ws in enumerate(target)],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in dsir_weights(df, tdf, dim=dim).collect()}
    for i, ws in enumerate(corpus):
        b = buckets(ws)
        assert got[i]["n_tokens"] == sum(b.values())
        assert got[i]["logw_micro"] == sum(c * lr[f] for f, c in b.items()), (i, ws)


@given(data=st.data())
@settings(max_examples=30, deadline=None)
def test_power_iteration_fuzz_dominant_direction(data):
    """power_iteration_top on RANDOM integer PSD matrices (AᵀA for
    random A) aligns with numpy's dominant eigendirection whenever the
    spectrum is well-separated — and the renormalized vector always
    has max|v| == scale (the integer-normalization invariant)."""
    import numpy as np

    from fabrix_spark.operators.similarity import power_iteration_top

    dim = data.draw(st.integers(min_value=2, max_value=8))
    n = data.draw(st.integers(min_value=dim + 1, max_value=30))
    seed = data.draw(st.integers(min_value=0, max_value=10_000))
    rng = np.random.default_rng(seed)
    a = rng.integers(-30, 30, size=(n, dim)).astype(np.int64)
    G = a.T @ a
    rows = [(i, j, int(G[i, j])) for i in range(dim) for j in range(dim)]
    v = np.array(power_iteration_top(rows, dim=dim, iters=40), dtype=np.float64)
    assert int(np.abs(v).max()) == 1_000_000  # normalization invariant
    w, vecs = np.linalg.eigh(G.astype(np.float64))
    top = vecs[:, -1]
    start = np.arange(1, dim + 1, dtype=np.float64)
    start /= np.linalg.norm(start)
    # convergence needs (a) a spectral gap — error shrinks as
    # (l2/l1)^k — and (b) a start vector not orthogonal to the top
    # eigendirection (the fixed start CAN be near-orthogonal, and
    # exact arithmetic then never escapes); both are properties of
    # the random draw, not of the implementation
    if w[-1] <= 0 or (len(w) > 1 and w[-2] / w[-1] > 0.85):
        return
    if abs(start @ top) < 0.05:
        return
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.99, (seed, dim, n, w[-2:], cos)
    # the Rayleigh quotient must capture nearly all dominant variance
    rho = (v @ G.astype(np.float64) @ v) / (v @ v)
    assert rho > 0.98 * w[-1], (seed, rho, w[-1])


@given(data=st.data())
@settings(max_examples=200, deadline=None)
def test_target_mix_quota_identity_fuzz(data):
    """target_mix_sample's quota formula ``keep_g = min_h((w_g ·
    avail_h) // w_h)`` ships on the claim that min and floor commute —
    previously proof-by-comment, example-tested only (r12 verdict).
    Fuzz it against EXACT rational arithmetic (Fraction — a float
    argmin reference could itself misround near ties): keep_g must
    equal floor(w_g · min_h(avail_h / w_h)), never exceed any group's
    availability, and keep the scarcest-relative-to-weight group
    WHOLE."""
    import math
    from fractions import Fraction

    groups = data.draw(st.integers(min_value=1, max_value=6))
    w = [data.draw(st.integers(min_value=1, max_value=60)) for _ in range(groups)]
    avail = [
        data.draw(st.integers(min_value=0, max_value=10**6)) for _ in range(groups)
    ]
    keep = [
        min((w[g] * avail[h]) // w[h] for h in range(groups))
        for g in range(groups)
    ]
    m = min(Fraction(avail[h], w[h]) for h in range(groups))
    for g in range(groups):
        assert keep[g] == math.floor(w[g] * m), (w, avail, g)
        assert keep[g] <= avail[g]
    h_star = min(range(groups), key=lambda h: Fraction(avail[h], w[h]))
    assert keep[h_star] == avail[h_star], (w, avail, h_star)


@given(data=st.data())
@settings(max_examples=200, deadline=None)
def test_weighted_reservoir_es_key_identity_fuzz(data):
    """weighted_reservoir's integer nano-nat ES key (round(ln(u)·1e9)
    ranked by ONE int/long double division t/w) induces the same top-k
    selection as the textbook float Efraimidis–Spirakis reference
    ln(u)/w over random weight tables — previously example-tested on
    one fixed grid (r13 verdict #8). Where the two selections CAN
    differ — two rows' exact ES keys within the per-row quantization
    bound 0.5e-9/w of each other — the fuzz asserts every flipped row
    sits inside that bound of the cutoff, so a genuine ordering bug
    (not a quantization near-tie) still fails."""
    import hashlib
    import math

    n = data.draw(st.integers(min_value=5, max_value=60))
    k = data.draw(st.integers(min_value=1, max_value=min(10, n)))
    offset = data.draw(st.integers(min_value=0, max_value=10**9))
    weights = {
        i: data.draw(st.integers(min_value=1, max_value=10**6))
        for i in range(offset, offset + n)
    }

    def u(i: int) -> float:
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:13], 16)
        return (h + 1) / float(1 << 52)

    # the shipped recipe: one rounding to nano-nats, one division
    int_sel = sorted(
        weights,
        key=lambda i: (round(math.log(u(i)) * 1e9) / weights[i], -i),
        reverse=True,
    )[:k]
    # float reference (ln-domain; monotone-equal to u^(1/w))
    ref_key = {i: math.log(u(i)) / weights[i] for i in weights}
    ref_sel = sorted(weights, key=lambda i: (ref_key[i], -i), reverse=True)[:k]
    if sorted(int_sel) == sorted(ref_sel):
        return
    cutoff = min(ref_key[i] for i in ref_sel)
    for i in set(int_sel) ^ set(ref_sel):
        # a flip is legitimate only within the quantization bound of
        # the selection boundary (0.5e-9/w per row, two rows involved)
        bound = 0.5e-9 / weights[i] + 0.5e-9
        assert abs(ref_key[i] - cutoff) <= bound, (i, weights[i], ref_key[i], cutoff)


@pytest.mark.slow
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc "), min_size=0, max_size=12),
        min_size=2,
        max_size=8,
    ),
    key_len=st.integers(2, 4),
    block_cap=st.integers(2, 4),
    pct=st.sampled_from([20, 40, 60, 100]),
    generators=st.sampled_from(
        [
            ("prefix", "suffix"),
            ("prefix", "suffix", "sorted_prefix"),
            ("sorted_prefix",),
        ]
    ),
)
@settings(max_examples=15, deadline=None)
def test_fuzzy_pairs_fuzz_matches_bruteforce(
    spark, docs, key_len, block_cap, pct, generators
):
    """fuzzy_pairs == a pure-Python replay of the whole recipe (trim,
    prefix/suffix/token-sorted blocking with purge, pair dedup,
    Wagner-Fischer Levenshtein, integer percent threshold) over
    arbitrary tiny low-alphabet corpora — short-text edge cases (text
    shorter than key_len, empty text, whitespace-only text, whole
    corpus one block) included, for every generator combination."""
    from fabrix_spark.operators.dedup import fuzzy_pairs

    rows = [(i, "".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): (r["dist"], r["max_len"])
        for r in fuzzy_pairs(
            df,
            block_col=None,
            key_len=key_len,
            block_cap=block_cap,
            pct_threshold=pct,
            generators=generators,
        ).collect()
    }

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    norm = {i: t.strip() for i, t in rows}
    from collections import defaultdict

    blocks = defaultdict(set)
    for i, t in norm.items():
        # Spark substring(-k, k): the LAST k chars (shorter text → the
        # whole text when len < k, matching substring's negative-pos
        # clamp only for len >= 1; empty suffix key still groups)
        if "prefix" in generators:
            blocks[("p", t[:key_len])].add(i)
        if "suffix" in generators:
            blocks[("s", t[-key_len:] if t else "")].add(i)
        if "sorted_prefix" in generators:
            # Spark: split(trimmed, '\s+') → array_sort → ' '-join →
            # first key_len chars. Python str.split() matches on
            # trimmed input (both collapse whitespace runs; the empty
            # string yields an empty join in both).
            blocks[("t", " ".join(sorted(t.split()))[:key_len])].add(i)
    cand = set()
    for members in blocks.values():
        if 2 <= len(members) <= block_cap:
            ms = sorted(members)
            for x in range(len(ms)):
                for y in range(x + 1, len(ms)):
                    cand.add((ms[x], ms[y]))
    want = {}
    for a, b in cand:
        d = lev(norm[a], norm[b])
        ml = max(len(norm[a]), len(norm[b]))
        if 100 * d <= pct * ml:
            want[(a, b)] = (d, ml)
    assert got == want


@given(
    names=st.lists(
        st.tuples(
            st.lists(st.sampled_from("abC1"), min_size=0, max_size=8),
            st.integers(0, 2),  # block id
        ),
        min_size=2,
        max_size=10,
    ),
    max_dist=st.integers(0, 3),
)
@settings(max_examples=15, deadline=None)
def test_edit_distance_pairs_fuzz_matches_bruteforce(spark, names, max_dist):
    """edit_distance_pairs (banded verify since r14) == a Python replay
    of block + length-prefilter + Wagner-Fischer over arbitrary tiny
    identifier tables — pins that the banded levenshtein emits the
    same pairs AND the same exact distances as the full DP."""
    from fabrix_spark.operators.text import edit_distance_pairs

    rows = [(i, "".join(t), b) for i, (t, b) in enumerate(names)]
    df = spark.createDataFrame(rows, "id long, name string, blk int")
    got = {
        (r["a_id"], r["b_id"]): r["edit_distance"]
        for r in edit_distance_pairs(
            df, col="name", id_col="id", block="blk", max_dist=max_dist
        ).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {}
    for x in range(len(rows)):
        for y in range(x + 1, len(rows)):
            ia, sa, ba = rows[x]
            ib, sb, bb = rows[y]
            if ba != bb or abs(len(sa) - len(sb)) > max_dist:
                continue
            d = lev(sa, sb)
            if d <= max_dist:
                want[(ia, ib)] = d
    assert got == want


@pytest.mark.slow
@given(
    probe=st.lists(
        st.lists(st.sampled_from("abc "), min_size=0, max_size=10),
        min_size=1,
        max_size=6,
    ),
    ref=st.lists(
        st.lists(st.sampled_from("abc "), min_size=0, max_size=10),
        min_size=1,
        max_size=6,
    ),
    key_len=st.integers(2, 4),
    block_cap=st.integers(1, 4),
    pct=st.sampled_from([20, 50, 100]),
    generators=st.sampled_from(
        [("prefix", "suffix"), ("prefix", "suffix", "sorted_prefix")]
    ),
)
@settings(max_examples=15, deadline=None)
def test_fuzzy_join_fuzz_matches_bruteforce(
    spark, probe, ref, key_len, block_cap, pct, generators
):
    """fuzzy_join == a pure-Python replay (ref-side-only purge, no
    pair-count floor, no id ordering) over arbitrary tiny low-alphabet
    tables — including id collisions across the two independent id
    spaces, texts shorter than the blocking key, and the opt-in
    token-sorted generator (its join path unions candidates through a
    different loop than fuzzy_pairs')."""
    from fabrix_spark.operators.dedup import fuzzy_join

    prows = [(i, "".join(t)) for i, t in enumerate(probe)]
    rrows = [(i, "".join(t)) for i, t in enumerate(ref)]
    got = {
        (r["probe_id"], r["ref_id"]): (r["dist"], r["max_len"])
        for r in fuzzy_join(
            spark.createDataFrame(prows, "doc_id long, text string"),
            spark.createDataFrame(rrows, "doc_id long, text string"),
            block_col=None,
            key_len=key_len,
            block_cap=block_cap,
            pct_threshold=pct,
            generators=generators,
        ).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    np_ = {i: t.strip() for i, t in prows}
    nr_ = {i: t.strip() for i, t in rrows}
    from collections import defaultdict

    def keys_of(t):
        out = []
        if "prefix" in generators:
            out.append(("p", t[:key_len]))
        if "suffix" in generators:
            out.append(("s", t[-key_len:] if t else ""))
        if "sorted_prefix" in generators:
            out.append(("t", " ".join(sorted(t.split()))[:key_len]))
        return out

    rblocks = defaultdict(set)
    for i, t in nr_.items():
        for key in keys_of(t):
            rblocks[key].add(i)
    cand = set()
    for pid, t in np_.items():
        for key in keys_of(t):
            if key in rblocks and len(rblocks[key]) <= block_cap:
                for rid in rblocks[key]:
                    cand.add((pid, rid))
    want = {}
    for pid, rid in cand:
        d = lev(np_[pid], nr_[rid])
        ml = max(len(np_[pid]), len(nr_[rid]))
        if 100 * d <= pct * ml:
            want[(pid, rid)] = (d, ml)
    assert got == want


@pytest.mark.slow
@given(
    probe=st.lists(
        st.tuples(
            st.lists(st.sampled_from("ab"), min_size=0, max_size=8),
            st.one_of(st.none(), st.integers(0, 1)),  # block scope, incl. NULL
        ),
        min_size=1,
        max_size=6,
    ),
    ref=st.lists(
        st.tuples(
            st.lists(st.sampled_from("ab"), min_size=0, max_size=8),
            st.one_of(st.none(), st.integers(0, 1)),
        ),
        min_size=1,
        max_size=6,
    ),
    key_len=st.integers(2, 3),
    block_cap=st.integers(1, 3),
)
@settings(max_examples=15, deadline=None)
def test_fuzzy_join_scoped_fuzz_matches_bruteforce(spark, probe, ref, key_len, block_cap):
    """The SCOPED fuzzy_join path (block_col set): candidates must
    share the scope value, NULL-scope rows drop on BOTH sides, and the
    ref-side purge counts within (scope, key) — all replayed by a
    pure-Python model."""
    from fabrix_spark.operators.dedup import fuzzy_join

    prows = [(i, "".join(t), b) for i, (t, b) in enumerate(probe)]
    rrows = [(i, "".join(t), b) for i, (t, b) in enumerate(ref)]
    schema = "doc_id long, text string, lang int"
    got = {
        (r["probe_id"], r["ref_id"]): r["dist"]
        for r in fuzzy_join(
            spark.createDataFrame(prows, schema),
            spark.createDataFrame(rrows, schema),
            block_col="lang",
            key_len=key_len,
            block_cap=block_cap,
            pct_threshold=50,
        ).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    from collections import defaultdict

    nr_ = {i: (t.strip(), b) for i, t, b in rrows if b is not None}
    np_ = {i: (t.strip(), b) for i, t, b in prows if b is not None}
    rblocks = defaultdict(set)
    for i, (t, b) in nr_.items():
        rblocks[(b, "p", t[:key_len])].add(i)
        rblocks[(b, "s", t[-key_len:] if t else "")].add(i)
    want = {}
    for pid, (t, b) in np_.items():
        for key in ((b, "p", t[:key_len]), (b, "s", t[-key_len:] if t else "")):
            if key in rblocks and len(rblocks[key]) <= block_cap:
                for rid in rblocks[key]:
                    d = lev(t, nr_[rid][0])
                    ml = max(len(t), len(nr_[rid][0]))
                    if 100 * d <= 50 * ml:
                        want[(pid, rid)] = d
    assert got == want


@pytest.mark.slow
@given(
    texts=st.lists(
        st.lists(st.sampled_from("ab "), min_size=0, max_size=14),
        min_size=2,
        max_size=10,
    ),
    n_updates=st.integers(0, 3),
    data=st.data(),
)
@settings(max_examples=8, deadline=None)
def test_admit_batch_fuzzy_replay_fixpoint(spark, texts, n_updates, data):
    """At-least-once replay identity for the fuzzy admission gate,
    property-fuzzed (the r14 verdict's optional hardening beyond the
    example tests): deliver arbitrary tiny low-alphabet batches —
    batch 2 may re-send batch-1 ids with arbitrary (same or edited)
    text, hitting the self-exclusion update path, the cross-id
    rejection path, and the r15 tombstone path — then RE-process each
    batch immediately after it lands (foreachBatch's live-tail
    redelivery model). The admitted table must be a fixpoint under
    every redelivery: identical (id, text) rows before and after."""
    import shutil
    import tempfile

    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import admit_batch_fuzzy

    docs = [(i, "".join(t)) for i, t in enumerate(texts)]
    cut = len(docs) // 2
    b1_rows, b2_rows = docs[:cut], docs[cut:]
    # batch-2 re-sends of batch-1 ids with fuzz-chosen replacement
    # text — at most ONE change per id (apply_changes' own contract;
    # a duplicate id in the batch would make dropDuplicates pick an
    # arbitrary winner and the model nondeterministic)
    resend_ids: set = set()
    for _ in range(min(n_updates, len(b1_rows))):
        rid = data.draw(st.integers(0, len(b1_rows) - 1))
        if b1_rows[rid][0] in resend_ids:
            continue
        resend_ids.add(b1_rows[rid][0])
        new_text = "".join(
            data.draw(st.lists(st.sampled_from("ab "), min_size=0, max_size=14))
        )
        b2_rows = b2_rows + [(b1_rows[rid][0], new_text)]
    tmp = tempfile.mkdtemp(prefix="fuzzy_replay_")
    try:
        admitted = LakeTable(spark, f"{tmp}/adm", index="doc_id")
        for rows in (b1_rows, b2_rows):
            if not rows:
                continue
            batch = spark.createDataFrame(rows, "doc_id long, text string")
            admit_batch_fuzzy(
                batch, admitted, block_col=None, key_len=3, block_cap=4
            ).collect()
            state = sorted(
                (r["doc_id"], r["text"]) for r in admitted.read().df.collect()
            )
            # live-tail redelivery: the exact batch again — fixpoint
            admit_batch_fuzzy(
                batch, admitted, block_col=None, key_len=3, block_cap=4
            ).collect()
            replayed = sorted(
                (r["doc_id"], r["text"]) for r in admitted.read().df.collect()
            )
            assert replayed == state
        # keys unique, every admitted row's text was delivered for its id
        final = sorted(
            (r["doc_id"], r["text"]) for r in admitted.read().df.collect()
        )
        assert len({k for k, _ in final}) == len(final)
        delivered = set(b1_rows) | set(b2_rows)
        assert set(final) <= delivered
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.slow
@given(
    texts=st.lists(
        st.lists(st.sampled_from("ab "), min_size=0, max_size=14),
        min_size=3,
        max_size=12,
    ),
    data=st.data(),
)
@settings(max_examples=5, deadline=None)
def test_admit_batch_fuzzy_multi_batch_replay_fixpoint(spark, texts, data):
    """The fixpoint fuzz extended to SEQUENCES (the r15 verdict's
    optional hardening): 3-4 batches where each batch may re-send ids
    from ANY earlier batch with arbitrary replacement text — so update
    CHAINS occur (an id edited in batch 2 re-edited in batch 3;
    tombstoned-then-resent and overwritten-then-resent both arise) —
    and every batch is redelivered live-tail style one or two times.
    Redelivery stays tail-only by design: that is foreachBatch's
    checkpointed at-least-once model, and the gate's contract
    (redelivering an ANCIENT batch after later updates is out of
    contract — its stale texts would legitimately re-admit as new
    updates). The admitted table must be bit-identical after every
    redelivery, keys unique, and every admitted (id, text) actually
    delivered."""
    import shutil
    import tempfile

    from fabrix_spark.sources.lake import LakeTable
    from fabrix_spark.streaming.ingest import admit_batch_fuzzy

    docs = [(i, "".join(t)) for i, t in enumerate(texts)]
    n_batches = data.draw(st.integers(3, 4))
    groups = [docs[k::n_batches] for k in range(n_batches)]
    kw = dict(block_col=None, key_len=3, block_cap=4)
    delivered: set = set()
    seen_ids: list = []
    tmp = tempfile.mkdtemp(prefix="fuzzy_replay_multi_")
    try:
        admitted = LakeTable(spark, f"{tmp}/adm", index="doc_id")
        for k in range(n_batches):
            rows = list(groups[k])
            if seen_ids:
                # at most one re-send per id per batch (apply_changes'
                # one-change-per-key contract via dropDuplicates)
                for _ in range(data.draw(st.integers(0, 2))):
                    rid = data.draw(st.sampled_from(seen_ids))
                    if rid in {i for i, _ in rows}:
                        continue
                    new_text = "".join(
                        data.draw(
                            st.lists(st.sampled_from("ab "), min_size=0, max_size=14)
                        )
                    )
                    rows.append((rid, new_text))
            if not rows:
                continue
            batch = spark.createDataFrame(rows, "doc_id long, text string")
            admit_batch_fuzzy(batch, admitted, **kw).collect()
            state = sorted(
                (r["doc_id"], r["text"]) for r in admitted.read().df.collect()
            )
            for _ in range(data.draw(st.integers(1, 2))):
                admit_batch_fuzzy(batch, admitted, **kw).collect()
                replayed = sorted(
                    (r["doc_id"], r["text"]) for r in admitted.read().df.collect()
                )
                assert replayed == state
            delivered |= set(rows)
            seen_ids = sorted({i for i, _ in delivered})
        final = sorted(
            (r["doc_id"], r["text"]) for r in admitted.read().df.collect()
        )
        assert len({i for i, _ in final}) == len(final)
        assert set(final) <= delivered
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
