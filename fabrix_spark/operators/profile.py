"""Column profiling — the data-quality pass a pipeline runs before
trusting a new table.

One aggregation computes, for every column: null count, exact
distinct count, and min/max (rendered to strings so one long-format
frame covers heterogeneous types). Single shuffle; entirely
deterministic (no sampling), so it oracle-checks — unlike
``df.summary()``, whose quantiles are approximate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["profile", "histogram", "quantiles", "sampled_quantiles", "kmv_distinct", "kmv_distinct_grouped", "check_constraints", "row_constraints", "kmv_sketch", "kmv_merge_estimate", "correlation", "hist_sketch", "hist_merge", "hist_quantiles", "hist_sketch_grouped", "hist_quantiles_grouped", "heavy_hitters", "mad_outliers", "skew_report", "winsorize"]


_SCAN_SHAPED_NODES = {
    # logical nodes whose re-execution is a free column-pruned re-scan:
    # re-running one of these per profiled column costs the same bytes
    # as one wide scan (each branch prunes to its own column)
    "Project",
    "Filter",
    "Relation",
    "RelationV2",
    "LogicalRelation",
    "LogicalRDD",
    "LocalRelation",
    "SubqueryAlias",
    "View",
}


def _is_scan_shaped(df: DataFrame) -> bool:
    """True when df's optimized plan is a bare (possibly
    projected/filtered) relation — the shape whose per-column
    re-execution is cost-free. Joins/aggregates/windows/generators make
    it DERIVED: re-executing that subtree once per profiled column
    repeats real work N times, so the caller materializes first. A
    nondeterministic expression anywhere (``rand()`` over a scan) is
    derived too: each re-execution would profile a different
    snapshot."""
    import re as _re

    optimized = df._jdf.queryExecution().optimizedPlan()
    if not optimized.deterministic():
        return False
    for line in optimized.toString().splitlines():
        m = _re.match(r"^[\s:+-]*([A-Za-z][A-Za-z0-9]*)", line)
        if m and m.group(1) not in _SCAN_SHAPED_NODES:
            return False
    return True


def profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Long-format profile: one row per column with
    (column, n_rows, n_nulls, n_distinct, min_value, max_value)."""
    cols = df.columns if columns is None else columns
    if not cols:
        raise ValueError("profile() needs at least one column (got an empty list or a zero-column DataFrame)")
    # Derived inputs (join/aggregate results — anything beyond a
    # projected/filtered scan) are materialized ONCE as the pruned
    # projection (r18, advisor item): the per-column union below
    # re-executes df's plan once per column, which is free only for a
    # bare scan (each branch prunes to one column); for a derived
    # frame it would repeat the whole upstream subtree N times and,
    # for a non-deterministic source, profile N different snapshots.
    # Bare scans skip this (checkpointing a 100 TB table to profile it
    # would be the bug), keeping the r17 pruned-scan plan shape.
    if not _is_scan_shaped(df):
        df = df.select(*cols).localCheckpoint(eager=True)
    # ONE single-distinct aggregate per column, unioned (r17): packing
    # N count_distincts into one agg triggers the multi-distinct
    # rewrite — an N+1-way Expand whose re-keyed path drags every
    # min/max/null buffer through THREE SortAggregates and an
    # Exchange of |rows|×(N+1) wide tuples (measured at sf0.1: the
    # 5-column orders profile shuffled ~900k 22-column rows). Per
    # column, Spark plans the single count_distinct as a clean
    # Expand-free two-phase HashAggregate over a pruned one-column
    # scan — N pruned scans cost the same bytes as one N-column scan,
    # and the branches are independent AQE stages that run
    # concurrently. Same aggregate functions row-for-row, so the
    # result (incl. empty-input NULLs) is identical.
    parts = []
    for c in cols:
        one = df.select(F.col(c).alias("__v")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("__v").isNull().cast("long")).alias("n_nulls"),
            F.count_distinct(F.col("__v")).alias("n_distinct"),
            F.min("__v").cast("string").alias("min_value"),
            F.max("__v").cast("string").alias("max_value"),
        )
        parts.append(
            one.select(
                F.lit(c).alias("column"),
                "n_rows",
                "n_nulls",
                "n_distinct",
                "min_value",
                "max_value",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def histogram(df: DataFrame, col: str, n_bins: int = 10) -> DataFrame:
    """Equal-width histogram: two passes (min/max, then one
    aggregation on the bin index). Bin edges derive from exact min/max
    so the result is deterministic — no sampling, no rdd.histogram.
    Returns (bin, lo, hi, n) sorted by bin.

    Edge contracts (r17 self-review): NULL and NaN values are EXCLUDED
    — ``least(n_bins-1, NULL)`` skips the NULL, so every NULL value
    was silently counted into the TOP bin (and NaN, greatest in
    Spark's total order, landed there too); and a constant column
    (min == max) puts every row in bin 0 instead of dividing by a
    zero width (a task-killing DIVIDE_BY_ZERO under ANSI mode)."""
    x = F.col(col).cast("double")
    clean = df.select(x.alias("__x")).filter(
        F.col("__x").isNotNull() & ~F.isnan("__x")
    )
    stats = clean.agg(F.min("__x").alias("__lo"), F.max("__x").alias("__hi"))
    binned = clean.crossJoin(F.broadcast(stats))
    width = (F.col("__hi") - F.col("__lo")) / n_bins
    idx = F.when(F.col("__hi") > F.col("__lo"), F.least(
        F.lit(n_bins - 1),
        F.floor((F.col("__x") - F.col("__lo")) / width).cast("int"),
    )).otherwise(F.lit(0))
    return (
        binned.withColumn("bin", idx)
        .groupBy("bin", "__lo", "__hi")
        .agg(F.count("*").alias("n"))
        .select(
            "bin",
            F.round(F.col("__lo") + F.col("bin") * (F.col("__hi") - F.col("__lo")) / n_bins, 6).alias("lo"),
            F.round(F.col("__lo") + (F.col("bin") + 1) * (F.col("__hi") - F.col("__lo")) / n_bins, 6).alias("hi"),
            "n",
        )
        .orderBy("bin")
    )


def quantiles(
    df: DataFrame, columns: list[str], probs: tuple[float, ...] = (0.25, 0.5, 0.75)
) -> DataFrame:
    """Exact linear-interpolation quantiles, long format: one row per
    (column, prob) with the value rounded to 6 dp. Spark's exact
    ``percentile`` matches DuckDB's ``quantile_cont`` bit-for-bit on
    the same data, so this oracle-checks (unlike ``approx_percentile``
    — at corpus scale where an exact single-group percentile would
    strain executor memory, the approximate sketch is the right tool;
    this is the profiling/validation variant)."""
    plist = ", ".join(str(p) for p in probs)
    aggs = [
        F.expr(f"percentile({c}, array({plist}))").alias(f"__q_{c}") for c in columns
    ]
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.lit(float(pr)).alias("prob"),
                F.round(F.element_at(f"__q_{c}", i + 1), 6).alias("value"),
            )
            for c in columns
            for i, pr in enumerate(probs)
        ]
    )
    return wide.select(F.explode(rows).alias("q")).select("q.*")


def _kmv_hash(col: str):
    """60-bit uniform hash of a column value: first 15 hex digits of
    md5 of the string form — engine-independent (the same construction
    the dedup family uses), so sketch results are bit-reproducible and
    oracle-checkable, unlike approx_count_distinct's HLL."""
    return F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


_KMV_DOMAIN = float(1 << 60)


def kmv_distinct(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """K-minimum-values distinct-count estimate (Bar-Yossef et al.
    2002, public literature): keep the k smallest 60-bit hashes of the
    column; if fewer than k distinct hashes exist the count is EXACT,
    otherwise estimate (k-1) * 2^60 / h_k where h_k is the k-th
    smallest hash.

    The 100 TB story is mergeability: "k smallest hashes" is a
    map-side-combinable aggregate — Spark's TakeOrdered/partial sort
    keeps k values per partition and merges, so the sketch costs one
    narrow pass regardless of cardinality, where an exact
    count_distinct shuffles every distinct value. Deterministic (md5
    domain, no RNG), hence fully oracled. Returns one row:
    (n_seen, est_distinct). NULLs are excluded, matching
    count(DISTINCT col)."""
    mins = (
        df.filter(F.col(col).isNotNull())
        .select(_kmv_hash(col).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    top = mins.agg(F.count("*").alias("n_seen"), F.max("h").alias("__hk"))
    # (k-1)*2^60 is exactly representable as a double for any sane k,
    # so the single division below is one IEEE op — identical on every
    # engine; emit it unrounded (round() is the cross-engine trap)
    return top.select(
        "n_seen",
        F.when(F.col("n_seen") < k, F.col("n_seen").cast("double"))
        .otherwise(F.lit(float(k - 1) * _KMV_DOMAIN) / F.col("__hk").cast("double"))
        .alias("est_distinct"),
    )


def kmv_distinct_grouped(
    df: DataFrame, col: str, by: str, k: int = 256
) -> DataFrame:
    """Per-group KMV sketch: (by, n_seen, est_distinct) — the grouped
    form of :func:`kmv_distinct` (window rank instead of global
    limit). One shuffle on (group, hash) + one window pass; each
    group's sketch is independently mergeable."""
    from pyspark.sql.window import Window

    h = (
        df.filter(F.col(col).isNotNull())
        .select(F.col(by), _kmv_hash(col).alias("h"))
        .distinct()
    )
    w = Window.partitionBy(by).orderBy(F.col("h").asc())
    mins = h.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    top = mins.groupBy(by).agg(F.count("*").alias("n_seen"), F.max("h").alias("__hk"))
    return top.select(
        by,
        "n_seen",
        F.when(F.col("n_seen") < k, F.col("n_seen").cast("double"))
        .otherwise(F.lit(float(k - 1) * _KMV_DOMAIN) / F.col("__hk").cast("double"))
        .alias("est_distinct"),
    )


def check_constraints(df: DataFrame, rules: list[tuple]) -> DataFrame:
    """Declarative data-quality validation (the Deequ/Great-
    Expectations idea, public designs): evaluate a rule list in ONE
    aggregation pass and return a long-format report
    (rule, column, metric, threshold, passed).

    Rules:
      ("completeness", col, min_ratio)   non-null fraction >= min_ratio
      ("distinctness", col, min_ratio)   distinct/rows     >= min_ratio
      ("min", col, bound)                min(col)          >= bound
      ("max", col, bound)                max(col)          <= bound
      ("non_negative", col)              min(col)          >= 0
      ("values_in", col, values, min_ratio)
                                         fraction of rows whose value
                                         is in `values` (NULL counts
                                         as a miss) >= min_ratio

    Every metric is a count ratio or an extremum — single divisions of
    exact integers, emitted unrounded — so the report is bit-identical
    on any engine/partitioning and oracle-checkable. One shuffle (the
    global aggregate, partials map-side) regardless of rule count:
    validating 50 constraints on a 100 TB table costs one pass."""
    n = F.count(F.lit(1))
    aggs, metas = [], []
    for i, rule in enumerate(rules):
        kind, col = rule[0], rule[1]
        a = f"__m{i}"
        if kind == "completeness":
            aggs.append((F.count(col) / n).alias(a))
            metas.append((kind, col, float(rule[2]), ">="))
        elif kind == "distinctness":
            aggs.append((F.countDistinct(col) / n).alias(a))
            metas.append((kind, col, float(rule[2]), ">="))
        elif kind == "min":
            aggs.append(F.min(col).cast("double").alias(a))
            metas.append((kind, col, float(rule[2]), ">="))
        elif kind == "max":
            aggs.append(F.max(col).cast("double").alias(a))
            metas.append((kind, col, float(rule[2]), "<="))
        elif kind == "non_negative":
            aggs.append(F.min(col).cast("double").alias(a))
            metas.append((kind, col, 0.0, ">="))
        elif kind == "values_in":
            hit = F.coalesce(F.col(col).isin(list(rule[2])), F.lit(False))
            aggs.append(F.avg(hit.cast("int")).alias(a))
            metas.append((kind, col, float(rule[3]), ">="))
        else:
            raise ValueError(f"unknown constraint kind {kind!r}")
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(kind).alias("rule"),
                F.lit(col).alias("column"),
                F.col(f"__m{i}").alias("metric"),
                F.lit(thr).alias("threshold"),
                (
                    F.col(f"__m{i}") >= F.lit(thr)
                    if op == ">="
                    else F.col(f"__m{i}") <= F.lit(thr)
                ).alias("passed"),
            )
            for i, (kind, col, thr, op) in enumerate(metas)
        ]
    )
    return wide.select(F.explode(rows).alias("c")).select("c.*")


def row_constraints(rules: list[tuple]):
    """Row-level form of the :func:`check_constraints` rule grammar —
    the subset decidable per row — compiled to
    ``(predicate Column, reason Column)``: predicate is the
    conjunction (NULL-safe: an unevaluable rule fails the row), reason
    names the FIRST violated rule (NULL when the row passes). This is
    what a dead-letter ingest gate evaluates per record.

    Rules: ("not_null", col), ("non_negative", col),
    ("min", col, bound), ("max", col, bound),
    ("values_in", col, values)."""
    terms = []
    for rule in rules:
        kind, col = rule[0], rule[1]
        c = F.col(col)
        if kind == "not_null":
            ok = c.isNotNull()
            label = f"not_null({col})"
        elif kind == "non_negative":
            ok = F.coalesce(c >= 0, F.lit(False))
            label = f"non_negative({col})"
        elif kind == "min":
            ok = F.coalesce(c >= F.lit(rule[2]), F.lit(False))
            label = f"min({col},{rule[2]})"
        elif kind == "max":
            ok = F.coalesce(c <= F.lit(rule[2]), F.lit(False))
            label = f"max({col},{rule[2]})"
        elif kind == "values_in":
            ok = F.coalesce(c.isin(list(rule[2])), F.lit(False))
            label = f"values_in({col})"
        else:
            raise ValueError(f"unknown row constraint kind {kind!r}")
        terms.append((ok, label))
    pred = F.lit(True)
    for ok, _ in terms:
        pred = pred & ok
    reason = F.lit(None).cast("string")
    for ok, label in reversed(terms):
        reason = F.when(~ok, F.lit(label)).otherwise(reason)
    return pred, reason


def kmv_sketch(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """Materialize the KMV sketch itself — the k smallest distinct
    hashes as a one-column (h) DataFrame. Sketches are tiny (k longs),
    storable as tables, and mergeable: :func:`kmv_merge_estimate` of
    per-shard/per-day sketches equals the estimate over the union,
    which is what makes distinct-counting at 100 TB a metadata-sized
    problem (sketch once per partition, merge forever)."""
    return (
        df.filter(F.col(col).isNotNull())
        .select(_kmv_hash(col).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_merge_estimate(sketches: list[DataFrame], k: int = 256) -> DataFrame:
    """Merge KMV sketches (union → distinct → k smallest) and estimate
    the distinct count of the UNDERLYING union — identical to running
    :func:`kmv_distinct` over the concatenated raw data, because
    "k smallest of a union" == "k smallest of the union of k-smallest
    sets". Returns one row (n_seen, est_distinct)."""
    if not sketches:
        raise ValueError("kmv_merge_estimate needs at least one sketch")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    mins = u.distinct().orderBy("h").limit(k)
    top = mins.agg(F.count("*").alias("n_seen"), F.max("h").alias("__hk"))
    return top.select(
        "n_seen",
        F.when(F.col("n_seen") < k, F.col("n_seen").cast("double"))
        .otherwise(F.lit(float(k - 1) * _KMV_DOMAIN) / F.col("__hk").cast("double"))
        .alias("est_distinct"),
    )


def sampled_quantiles(
    df: DataFrame,
    columns: list[str],
    probs: tuple[float, ...],
    key: str,
    fraction: float = 0.1,
    salt: str = "",
) -> DataFrame:
    """Quantile ESTIMATION over a deterministic hash sample — the
    100 TB profiling shape: an exact single-group percentile must
    materialize every value, while a stable ``fraction`` keyed sample
    bounds memory at f·N and keeps the order-statistic error at the
    usual O(1/sqrt(f·N)). Unlike ``approx_percentile`` sketches the
    sample is hash-DETERMINISTIC (same rows on any engine or
    partitioning — and the sample of a shard union is the union of
    shard samples, so per-shard profiles merge exactly), which is what
    lets the estimate oracle-check bit-for-bit."""
    from .sampling import deterministic_sample

    return quantiles(deterministic_sample(df, key, fraction, salt), columns, probs)


def hist_sketch(
    df: DataFrame, col: str, width: int = 1000, scale: int = 100
) -> DataFrame:
    """MERGEABLE quantile sketch as a fixed-width integer histogram:
    values quantize to int64 (``scale`` then F.round — the repo's
    exactness recipe), bucket = floor(q / width), and the sketch is the
    (bucket, cnt) table. Complements :func:`sampled_quantiles` (which
    bounds memory but not error): here the quantile error is bounded by
    one bucket width, memory by the value range / width, and — unlike
    KLL/t-digest, whose compactions are randomized or merge-order-
    dependent — the sketch is fully DETERMINISTIC: build(shard union)
    == merge(shard sketches) exactly, on any engine or partitioning,
    so it oracle-checks bit-for-bit. One map-side-combined hash
    aggregate; the sketch is metadata-sized (the KMV contract: sketch
    once per partition/day, merge forever)."""
    q = F.round(F.col(col).cast("double") * scale).cast("long")
    b = F.floor(q.cast("double") / F.lit(float(width))).cast("long")
    # NaN excluded like NULL (r17 self-review): round(NaN) is NaN and
    # the ANSI long cast makes one NaN kill the whole pass
    return (
        df.filter(F.col(col).isNotNull() & ~F.isnan(F.col(col).cast("double")))
        .groupBy(b.alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


def hist_sketch_grouped(
    df: DataFrame, col: str, by: str, width: int = 1000, scale: int = 100
) -> DataFrame:
    """Per-group histogram sketch: (by, bucket, cnt) — the grouped
    form of :func:`hist_sketch`; each group's sketch is independently
    mergeable (sum cnt on (by, bucket))."""
    q = F.round(F.col(col).cast("double") * scale).cast("long")
    b = F.floor(q.cast("double") / F.lit(float(width))).cast("long")
    return (
        df.filter(F.col(col).isNotNull() & ~F.isnan(F.col(col).cast("double")))
        .groupBy(F.col(by), b.alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


def hist_quantiles_grouped(
    sketch: DataFrame, probs: tuple[float, ...], by: str, width: int = 1000
) -> DataFrame:
    """Per-group quantiles from grouped histogram sketches: the same
    rank = ceil(p·n) / first-bucket-reaching-rank rule as
    :func:`hist_quantiles`, with the cumulative window and totals
    partitioned by the group — one shuffle on the group key over
    sketch-sized data. Returns (by, prob, n, est_lo)."""
    from pyspark.sql.window import Window

    spark = sketch.sparkSession
    cum = sketch.withColumn(
        "__cum",
        F.sum("cnt").over(
            Window.partitionBy(by)
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    totals = sketch.groupBy(by).agg(F.sum("cnt").alias("n"))
    pdf = spark.createDataFrame([(float(p),) for p in probs], "prob double")
    ranks = totals.crossJoin(F.broadcast(pdf)).withColumn(
        "__r", F.ceil(F.col("prob") * F.col("n")).cast("long")
    )
    return (
        ranks.alias("r")
        .join(
            cum.alias("c"),
            (F.col(f"r.{by}") == F.col(f"c.{by}")) & (F.col("__cum") >= F.col("__r")),
        )
        .groupBy(F.col(f"r.{by}").alias(by), "prob", "n")
        .agg((F.min("bucket") * width).alias("est_lo"))
        .select(by, "prob", "n", "est_lo")
    )


def hist_merge(sketches: list[DataFrame]) -> DataFrame:
    """Merge histogram sketches: union → per-bucket count sum. Exactly
    equals :func:`hist_sketch` over the concatenated raw data."""
    if not sketches:
        raise ValueError("hist_merge needs at least one sketch")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def hist_quantiles(
    sketch: DataFrame, probs: tuple[float, ...], width: int = 1000
) -> DataFrame:
    """Quantiles from a histogram sketch: rank = ceil(p·n), answer =
    lower bound (in quantized units) of the first bucket whose
    cumulative count reaches the rank — a deterministic integer, within
    one bucket width of the exact order statistic. All plan-side: the
    cumulative window and the rank probe run over the SKETCH (bounded
    by construction), never the data; the inequality join is a
    broadcast over that tiny table. Returns (prob, n, est_lo)."""
    from pyspark.sql.window import Window

    spark = sketch.sparkSession
    cum = sketch.withColumn(
        "__cum",
        F.sum("cnt").over(
            Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    total = sketch.agg(F.sum("cnt").alias("n"))
    pdf = spark.createDataFrame([(float(p),) for p in probs], "prob double")
    ranks = pdf.crossJoin(F.broadcast(total)).withColumn(
        "__r", F.ceil(F.col("prob") * F.col("n")).cast("long")
    )
    return (
        ranks.join(F.broadcast(cum), F.col("__cum") >= F.col("__r"))
        .groupBy("prob", "n")
        .agg((F.min("bucket") * width).alias("est_lo"))
        .select("prob", "n", "est_lo")
    )


def mad_outliers(
    df: DataFrame,
    col: str,
    by: str | None = None,
    k: float = 3.0,
    scale: int = 100,
) -> DataFrame:
    """Robust outlier profile per group: median absolute deviation
    (the robust dispersion measure a mean/stddev z-score lacks — one
    extreme value corrupts the stddev but not the MAD). Values
    quantize to int64 (``scale`` + F.round), medians are EXACT
    percentile interpolation over those integers (half/quarter-grid
    doubles, exactly representable — the a_stats recipe, so both
    engines agree bit-for-bit), and a row is an outlier when
    |x − median| > k·MAD.

    Two exact-percentile passes + one broadcast join of the per-group
    (median, MAD) table — the group-stats side is |groups| rows, the
    data never shuffles beyond the percentile aggregates. Returns
    (by, n_rows, n_outliers, med, mad) with med/mad in quantized
    units rounded to 6 dp."""
    gcols = [by] if by else []
    # NaN excluded like NULL (r17 self-review): the ANSI long cast
    # makes one NaN kill the whole pass, and NaN has no rank anyway
    q = df.filter(
        F.col(col).isNotNull() & ~F.isnan(F.col(col).cast("double"))
    ).select(
        *gcols, F.round(F.col(col).cast("double") * scale).cast("long").alias("__c")
    )
    med = q.groupBy(*gcols).agg(F.expr("percentile(__c, 0.5)").alias("__med"))
    dev = q.join(F.broadcast(med), gcols) if gcols else q.crossJoin(F.broadcast(med))
    dev = dev.withColumn("__dev", F.abs(F.col("__c") - F.col("__med")))
    mad = dev.groupBy(*gcols).agg(F.expr("percentile(__dev, 0.5)").alias("__mad"))
    scored = (
        dev.join(F.broadcast(mad), gcols) if gcols else dev.crossJoin(F.broadcast(mad))
    )
    return scored.groupBy(*gcols).agg(
        F.count("*").alias("n_rows"),
        F.sum(
            (F.col("__dev") > F.lit(float(k)) * F.col("__mad")).cast("long")
        ).alias("n_outliers"),
        F.round(F.first("__med"), 6).alias("med"),
        F.round(F.first("__mad"), 6).alias("mad"),
    )


def heavy_hitters(
    df: DataFrame, col: str, phi: float = 0.005, item_type: str = "string"
) -> DataFrame:
    """EXACT heavy hitters (all items with frequency ≥ φ·n) without a
    full-domain shuffle — the two-pass candidate-and-verify shape that
    survives 100 TB where ``GROUP BY item`` over a billion-key domain
    does not:

    1. Per-partition weighted Misra-Gries summaries (k = ⌈1/φ⌉
       counters, Arrow batches folded via value_counts) run map-only.
       Standard MG guarantee: any item with partition count
       > n_p/(k+1) survives partition p's summary, so any GLOBAL
       φ-heavy item survives in ≥ 1 partition (else its total would be
       ≤ Σ n_p/(k+1) = n/(k+1) < φ·n). The candidate union is a
       partition-dependent SUPERSET — never a miss.
    2. One exact count of candidate rows only: broadcast semi-probe of
       the candidate set (≤ partitions·k items — metadata-sized), hash
       aggregate, threshold against a broadcast 1-row total.

    The OUTPUT is exact and partition-invariant even though the
    intermediate candidates aren't, so it oracle-checks against plain
    GROUP BY/HAVING SQL. Returns (item, cnt), cnt exact."""
    import pandas as pd

    k = max(1, int(math.ceil(1.0 / phi)))

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            for item, w in pdf[col].value_counts().items():
                if item in counters:
                    counters[item] += int(w)
                elif len(counters) < k:
                    counters[item] = int(w)
                else:
                    m = min(int(w), min(counters.values()))
                    counters = {
                        i: c - m for i, c in counters.items() if c - m > 0
                    }
                    if int(w) - m > 0:
                        counters[item] = int(w) - m
        yield pd.DataFrame({"item": list(counters.keys())})

    base = df.filter(F.col(col).isNotNull())
    cand = base.select(col).mapInPandas(mg, f"item {item_type}").distinct()
    total = base.agg(F.count(F.lit(1)).alias("__n"))
    return (
        base.join(F.broadcast(cand), F.col(col) == F.col("item"), "left_semi")
        .groupBy(F.col(col).alias("item"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.ceil(F.col("__n") * F.lit(float(phi))))
        .select("item", "cnt")
    )


def correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: list[str] | None = None,
    x_scale: int = 1,
    y_scale: int = 1,
) -> DataFrame:
    """Pearson correlation from EXACT integer moments: x and y are
    quantized to int64 (``*_scale`` then F.round), the five sums
    (Σx, Σy, Σxy, Σx², Σy²) accumulate exactly (order-independent),
    and the final formula is one fixed double-expression tree over
    those integers — identical IEEE arithmetic on any engine, so the
    result hash-verifies where native ``corr()`` implementations
    (Welford vs naive, engine-specific) drift in the last ulps.

    One hash aggregate (map-side partials); emits UNROUNDED doubles —
    the repo's rank-ratio lesson: a single deterministic expression
    over identical ints needs no rounding to agree.

    Incomplete pairs are EXCLUDED (r17 self-review): rows where either
    value is NULL or NaN drop before the moments — previously a NULL
    row was counted in ``n`` while the sums skipped it, silently
    biasing r toward 0, and one NaN killed the pass at the ANSI long
    cast. This is pairwise-complete observation, the standard
    correlation contract."""
    by = by or []
    xd = F.col(x_col).cast("double")
    yd = F.col(y_col).cast("double")
    qx = F.round(xd * x_scale).cast("long")
    qy = F.round(yd * y_scale).cast("long")
    base = df.filter(
        xd.isNotNull() & yd.isNotNull() & ~F.isnan(xd) & ~F.isnan(yd)
    ).select(*by, qx.alias("__x"), qy.alias("__y"))
    agg = base.groupBy(*[F.col(c) for c in by]).agg(
        F.count("*").alias("n"),
        F.sum("__x").alias("sx"),
        F.sum("__y").alias("sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    den = F.sqrt(
        (d("n") * d("sxx") - d("sx") * d("sx"))
        * (d("n") * d("syy") - d("sy") * d("sy"))
    )
    # a constant x or y (within a group) makes den = 0 — Pearson r is
    # undefined there and under ANSI mode the bare division is
    # TASK-KILLING, not NaN; ~isnan additionally covers a
    # rounding-negative variance product (sqrt → NaN, which compares
    # GREATER than 0). The division sits in the when() BRANCH, so the
    # shared subexpression the optimizer may force-evaluate is just
    # `den`, which is always safe to compute.
    r = F.when((den > 0) & ~F.isnan(den), num / den)
    return agg.select(*by, "n", r.alias("pearson_r"))


def psi_drift(df_a: DataFrame, df_b: DataFrame, bin_col: str) -> DataFrame:
    """Population Stability Index between two cohorts over a shared
    binning — THE production drift check (did this feature's
    distribution move between training and serving / yesterday and
    today?). Standard rule of thumb: PSI < 0.1 stable, 0.1–0.25
    drifting, > 0.25 shifted.

    PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i) over add-one-smoothed
    proportions (smoothing makes empty bins finite AND deterministic —
    no epsilon tuning). Per-bin terms quantize to int64 micro-nats
    (the t_lm_score recipe): ln over exactly-representable integer
    products, one rounding per bin, so the sum is order-free and the
    result hash-verifies cross-engine.

    Plan: one count aggregate per cohort (map-side combined), a
    full-outer join of two bin-sized tables, one broadcast of the
    2-value totals row — everything after the first aggregates is
    metadata-sized, at any corpus scale. Returns one row per bin:
    (bin, n_a, n_b, psi_term_micro); the index itself is
    sum(psi_term_micro)/1e6."""
    a = df_a.filter(F.col(bin_col).isNotNull()).groupBy(
        F.col(bin_col).alias("bin")
    ).agg(F.count("*").alias("n_a"))
    b = df_b.filter(F.col(bin_col).isNotNull()).groupBy(
        F.col(bin_col).alias("bin")
    ).agg(F.count("*").alias("n_b"))
    j = (
        a.join(b, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce(F.col("n_a"), F.lit(0)).alias("n_a"),
            F.coalesce(F.col("n_b"), F.lit(0)).alias("n_b"),
        )
    )
    totals = j.agg(
        F.sum(F.col("n_a") + 1).alias("__ta"), F.sum(F.col("n_b") + 1).alias("__tb")
    )
    sa = (F.col("n_a") + 1).cast("double")
    sb = (F.col("n_b") + 1).cast("double")
    ta = F.col("__ta").cast("double")
    tb = F.col("__tb").cast("double")
    term = (sa / ta - sb / tb) * (F.log(sa * tb) - F.log(sb * ta))
    return (
        j.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            "n_a",
            "n_b",
            F.round(term * F.lit(1000000.0)).cast("long").alias("psi_term_micro"),
        )
    )


def chi2_contingency(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Pearson chi-square association between two categorical columns
    — the profiling check for "are these two fields independent?"
    (label leakage into a metadata column, source↔language coupling,
    stratification sanity). Returns one row per contingency cell:
    (a, b, observed, term_q) with ``Σ term_q / 10⁶`` the chi-square
    statistic.

    EXACT integer arithmetic: with row/col totals r, c and grand total
    n, the per-cell term ``(O − rc/n)²/(rc/n) = (On − rc)²/(n·r·c)``
    quantizes by the SPLIT integral division
    ``(d² DIV m)·10⁶ + ((d² % m)·10⁶) DIV m`` (the same value as
    ``(d²·10⁶) DIV m`` by the division identity, without the 10⁶-fold
    intermediate) — every operand exact decimal(38,0), truncation
    identical on any engine, one defined truncation per cell.
    OVERFLOW CONTRACT: ``d² ≤ n⁴`` must stay inside decimal(38), so n
    is bounded at ~3·10⁹ rows — beyond that, pre-aggregate or sample
    upstream (documented, not silent: decimal overflow raises under
    ANSI).

    Plan: one (a, b) count aggregate (map-side combined), then the
    DENSE |A|×|B| grid — ZERO cells contribute ``(0−e)²/e = e`` and
    omitting them silently understates the statistic (a perfectly
    associated k-class pair reads 8/12 of its true χ² without them;
    caught by the unit test) — with broadcast row/col/grand totals
    joined back. Everything after the first aggregate is
    metadata-sized. NULL categories are excluded on both columns."""
    cells = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .agg(F.count("*").alias("o"))
    )
    ra = cells.groupBy("a").agg(F.sum("o").alias("__r"))
    cb = cells.groupBy("b").agg(F.sum("o").alias("__c"))
    tot = cells.agg(F.sum("o").alias("__n"))
    grid = ra.crossJoin(F.broadcast(cb))
    dense = grid.join(F.broadcast(cells), ["a", "b"], "left").select(
        "a", "b", "__r", "__c", F.coalesce(F.col("o"), F.lit(0)).alias("o")
    )
    # d and m defined ONCE each; the split-division identity
    # (d² DIV m)·10⁶ + ((d² % m)·10⁶) DIV m then reads as written
    staged = dense.crossJoin(F.broadcast(tot)).selectExpr(
        "a",
        "b",
        "o",
        "CAST(o AS DECIMAL(38,0)) * __n - CAST(__r AS DECIMAL(38,0)) * __c AS __d",
        "CAST(__n AS DECIMAL(38,0)) * __r * __c AS __m",
    )
    return staged.selectExpr(
        "a",
        "b",
        "CAST(o AS BIGINT) AS observed",
        "CAST((__d * __d DIV __m) * 1000000"
        " + ((__d * __d % __m) * 1000000) DIV __m AS BIGINT) AS term_q",
    )


def mg_compress(counters: DataFrame, k: int) -> DataFrame:
    """Compress an (item, cnt) counter table to ≤ k counters by the
    Misra-Gries MERGE rule (public mergeable-summaries result, Agarwal
    et al.): subtract the (k+1)-th largest count from every counter
    and drop the non-positive ones. The output is a valid MG summary
    of whatever the input summarized — counts only ever UNDER-count,
    and the total subtraction across any merge sequence is bounded by
    n/(k+1). Deterministic: rank ties break on item. The input is
    summary-sized by contract (≤ 2k rows in the streaming fold), so
    the single-partition ranking window is metadata-sized."""
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("cnt").desc(), F.col("item").asc())
    ranked = counters.withColumn("__r", F.row_number().over(w))
    t = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("__r") == k + 1, F.col("cnt"))), F.lit(0)
        ).alias("__t")
    )
    return (
        ranked.crossJoin(F.broadcast(t))
        .filter(F.col("cnt") - F.col("__t") > 0)
        .select("item", (F.col("cnt") - F.col("__t")).alias("cnt"))
    )


def skew_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """Key-skew diagnostic — the profile a join/aggregation plan wants
    BEFORE choosing a strategy (salt? broadcast? AQE skew thresholds?):
    for each candidate key column, total rows, distinct keys, the
    hottest key and its count, and ``skew_ratio`` = hottest count /
    mean count (1.0 = perfectly uniform; the AQE skew-join default
    fires near 5×).

    One hash aggregate per column (partial map-side combine) + one
    metadata-sized fold. The hottest key rides the fold as a
    zero-padded ``(count, key)`` string so a plain ``max`` is the
    deterministic arg-max (ties → lexicographically larger key) — the
    same trick works in any engine, which keeps the oracle exact.
    ``skew_ratio`` is a single int-derived division, bit-identical
    everywhere. NULL keys count as the key "" (they skew joins too)."""
    parts = []
    for c in cols:
        freq = df.groupBy(
            F.coalesce(F.col(c).cast("string"), F.lit("")).alias("__k")
        ).agg(F.count("*").alias("__cnt"))
        # 19 digits = full int64 width. lpad TRUNCATES strings longer
        # than the target, so a 12-digit pad would cut counts >= 10^12
        # to their first 12 digits and silently break the arg-max at
        # exactly the 100 TB scale this diagnostic targets.
        packed = F.concat(
            F.lpad(F.col("__cnt").cast("string"), 19, "0"), F.lit("|"), F.col("__k")
        )
        parts.append(
            freq.agg(
                F.lit(c).alias("column"),
                F.sum("__cnt").alias("n_total"),
                F.count("*").alias("n_distinct"),
                F.max("__cnt").alias("max_cnt"),
                F.substring(F.max(packed), 21, 1_000_000).alias("top_key"),
            ).select(
                "column",
                "n_total",
                "n_distinct",
                "max_cnt",
                "top_key",
                (
                    (F.col("max_cnt") * F.col("n_distinct")).cast("double")
                    / F.col("n_total")
                ).alias("skew_ratio"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def winsorize(
    df: DataFrame,
    col: str,
    lower_pct: int = 1,
    upper_pct: int = 1,
    method: str = "exact",
    sketch_width: int = 1000,
    sketch_scale: int = 100,
) -> DataFrame:
    """Rank-based winsorization — clamp ``col`` to its [p_lower,
    p_upper] tail boundaries, the standard outlier treatment before
    training statistics. Boundaries are defined by EXACT RANK (the
    k-th smallest / k-th largest value with k = ceil(n·pct/100)), not
    by interpolated percentiles: engines disagree on percentile
    interpolation index formulas, but "max of the k smallest" is a
    total-order fact any engine reproduces bit-for-bit.

    ``method='exact'``: each boundary is a global top-k
    (TakeOrderedAndProject: per-partition heaps, then ONE node merges
    k rows) + a 1-row aggregate. The single-node k-row merge means
    exact is for k up to the ~10⁷ range — fine for percent-tails of
    bench-scale tables, NOT for 1% of 10¹¹ rows. At that scale use
    ``method='sketch'``: boundaries from the deterministic mergeable
    histogram sketch (:func:`hist_sketch` — one map-combined pass,
    sketch-sized driver traffic, boundary within one bucket width of
    the exact order statistic, still engine-reproducible).

    The clamp itself is a narrow expression. NULLs are ignored for
    boundary ranks and pass through unclamped (explicitly —
    least/greatest SKIP nulls in every ANSI engine and would silently
    clamp them). NaN likewise (r17 self-review): NaN is GREATEST in
    Spark's total order, so NaNs in the upper tail became the 'hi'
    boundary itself — ``least(NaN, x)`` then returned x and the upper
    clamp silently vanished for every row; and once boundaries are
    finite, an ungated NaN row would be clamped TO the boundary,
    manufacturing a value from a non-value. NaN rows are excluded
    from the ranks and pass through unclamped.

    Returns df + ``{col}_winsorized`` + ``was_clipped``."""
    vals = df.select(col).filter(
        F.col(col).isNotNull() & ~F.isnan(F.col(col).cast("double"))
    )
    n = vals.count()
    if n == 0:
        return df.withColumn(f"{col}_winsorized", F.col(col)).withColumn(
            "was_clipped", F.lit(False)
        )
    k_lo = max(1, -(-(n * lower_pct) // 100))
    k_hi = max(1, -(-(n * upper_pct) // 100))
    if method == "sketch":
        # boundaries from the mergeable histogram sketch; est_lo is in
        # quantized units (round(v·scale)), so divide back out. For
        # integer columns, sketch_width=1/sketch_scale=1 makes the
        # sketch exact (one bucket per value) when the domain is small.
        # Target ranks are k_lo and n-k_hi+1 (same order statistics as
        # the exact path); the half-offset probs make hist_quantiles'
        # ceil(p·n) land on exactly those ranks despite float fuzz.
        p_lo = (k_lo - 0.5) / n
        p_hi = (n - k_hi + 1 - 0.5) / n
        sk = hist_sketch(vals, col, width=sketch_width, scale=sketch_scale)
        qs = hist_quantiles(sk, (p_lo, p_hi), width=sketch_width).collect()
        by_p = {round(r["prob"], 9): r["est_lo"] for r in qs}
        lo = by_p[round(p_lo, 9)] / sketch_scale
        hi = by_p[round(p_hi, 9)] / sketch_scale
    elif method == "exact":
        lo = vals.orderBy(F.col(col).asc()).limit(k_lo).agg(F.max(col)).first()[0]
        hi = vals.orderBy(F.col(col).desc()).limit(k_hi).agg(F.min(col)).first()[0]
    else:
        raise ValueError(f"unknown winsorize method {method!r}")
    # least/greatest SKIP nulls (both here and in ANSI engines), which
    # would silently clamp a NULL to a boundary — gate explicitly; NaN
    # likewise passes through (it would otherwise clamp to 'hi', since
    # NaN is greatest in Spark's total order)
    valid = F.col(col).isNotNull() & ~F.isnan(F.col(col).cast("double"))
    clamp = F.when(
        valid, F.greatest(F.lit(lo), F.least(F.lit(hi), F.col(col)))
    ).otherwise(F.col(col))
    return df.withColumn(f"{col}_winsorized", clamp).withColumn(
        "was_clipped",
        valid & ((F.col(col) < F.lit(lo)) | (F.col(col) > F.lit(hi))),
    )


# ---------------------------------------------------------------------------
# count-min sketch (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------


def _cms_col(key, row, width: int):
    """Engine-independent CMS bucket: first 8 md5 hex chars of
    ``key|r<row>``, mod width — the same md5 recipe every
    deterministic-sampling oracle in this repo reproduces in SQL."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    key.cast("string"), F.lit("|r"), row.cast("string")
                ).cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    )
    return (h.cast("long") % width).cast("long")


def cms_sketch(df: DataFrame, key_col: str, width: int = 256, depth: int = 4) -> DataFrame:
    """Build a count-min sketch of ``key_col`` frequencies: ``depth``
    hash rows × ``width`` counters, returned as (row, col, cnt).

    The point at 100 TB: the shuffle carries at most
    ``partitions × depth × width`` partial counters (map-side combine
    on (row, col)) — INDEPENDENT of both row count and key
    cardinality, where an exact per-key count shuffles the full key
    space. Sketches from disjoint shards merge by adding counters —
    the mergeable-summary contract the profiling family shares. The
    hash is md5-derived, so estimates are bit-reproducible on any
    engine (the query oracle rebuilds the identical sketch in SQL).
    """
    rows = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
    base = df.select(F.col(key_col).alias("__k")).select("__k", rows)
    return (
        base.select("row", _cms_col(F.col("__k"), F.col("row"), width).alias("col"))
        .groupBy("row", "col")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Point-frequency estimates for ``keys`` (a DataFrame exposing
    ``key_col``) against a :func:`cms_sketch`: probe the ``depth``
    cells of each key and take the minimum counter — an upper bound on
    the true count (``est ≥ true`` always; overshoot bounded by
    ``e·N/width`` with probability ``1 − e^{-depth}``). The sketch is
    ``depth × width`` rows — bounded by construction — so it
    broadcasts; probing is map-only."""
    rows = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
    probes = keys.select(F.col(key_col), rows).select(
        key_col, "row", _cms_col(F.col(key_col), F.col("row"), width).alias("col")
    )
    return (
        probes.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est_cnt"))
    )


def mutual_information(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Mutual information between two categorical columns — the
    information-theoretic dependence measure beside
    :func:`chi2_contingency`'s linear one (chi2 weighs squared
    deviations; MI weighs log-likelihood ratios, so a few strongly
    coupled cells register even when marginals are balanced).
    ``I = Σ_cells (o/n)·ln(o·n / (r·c))`` over OBSERVED cells only —
    a zero cell contributes exactly 0 (lim x·ln x = 0), so no dense
    grid and no smoothing is needed, unlike chi2 where zero cells
    carry their expected mass.

    Determinism: the PSI recipe — float ops run on exact integers
    ((o/n) is one correctly-rounded int/int division; ``ln(o·n) −
    ln(r·c)`` are logs of exactly-representable integer products) and
    each cell rounds ONCE to int64 micro-nats, so the per-cell table
    hash-verifies and ``Σ term_micro/10⁶`` is the order-free
    statistic. Caveat shared with psi_drift / dsir_weights /
    nb_train_predict: ``ln`` is a libm function, not a
    correctly-rounded IEEE op — JVM Math.log and DuckDB std::log have
    agreed to the last ulp on every tested engine and input, but a
    last-ulp divergence landing exactly on a round() half-boundary
    could in principle flip a cell by 1 micro-nat cross-engine.
    Empirically identical on the tested engines, not a proof. NULL
    categories are excluded on both columns.

    Plan: one (a, b) count aggregate (map-side combined), broadcast
    row/col/grand totals joined back — everything after the first
    aggregate is metadata-sized. Returns one row per observed cell:
    (a, b, observed, mi_term_micro)."""
    cells = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .agg(F.count("*").alias("o"))
    )
    ra = cells.groupBy("a").agg(F.sum("o").alias("__r"))
    cb = cells.groupBy("b").agg(F.sum("o").alias("__c"))
    tot = cells.agg(F.sum("o").alias("__n"))
    term = (
        F.col("o").cast("double") / F.col("__n").cast("double")
    ) * (
        F.log(F.col("o").cast("double") * F.col("__n").cast("double"))
        - F.log(F.col("__r").cast("double") * F.col("__c").cast("double"))
    )
    return (
        cells.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            F.col("o").cast("long").alias("observed"),
            F.round(term * F.lit(1_000_000.0)).cast("long").alias("mi_term_micro"),
        )
    )
