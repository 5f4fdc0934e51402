"""Distributed model-evaluation metrics — the post-scoring half of a
training pipeline, run over billions of scored rows where a
driver-side sklearn call is impossible.

AUC uses the rank-sum (Mann-Whitney U) identity: with ties counted
half, ``AUC = [Σ_s pos(s)·(2·neg_below(s) + neg_at(s))] / (2·P·N)``
over distinct score values ``s``. Grouping by score first means the
cumulative pass runs over |distinct scores| rows, and the running
count comes from :func:`rank.global_cumsum` — range-partitioned, no
single-reducer window. The numerator is an exact integer (doubled to
absorb the tie half), so the final single division is the only float
op and the result hash-matches any ANSI engine.

NULL scores are EXCLUDED from every ranking metric here (an unscored
row has no rank): without the explicit filter, Spark's ascending sort
places NULLs first while DuckDB's window ORDER BY places them last, so
a single unscored row would silently shift every cumulative count and
break cross-engine parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .rank import global_cumsum

__all__ = [
    "auc_by_group",
    "auc_one_vs_rest",
    "average_precision",
    "calibration_bins",
    "ks_statistic",
    "pr_points",
    "roc_points",
    "threshold_metrics",
]


def auc_one_vs_rest(
    df: DataFrame, score_col: str, label_col: str, classes: list[int]
) -> DataFrame:
    """One-vs-rest ROC AUC per class, exact, in one pipeline:
    score-grouped class counts (shuffle on score) → distributed
    running totals over score order → one aggregate to per-class
    integer numerators → ``stack`` to (class, n_pos, n_neg, auc) rows.

    All classes share the single cumulative pass: for class ``c`` the
    negatives below a score are ``cum_total_below − cum_c_below``.
    Numerators are summed as DECIMAL(38,0) so 100 TB-scale
    ``count × count`` products cannot overflow int64.
    """
    if not classes:
        raise ValueError("auc_one_vs_rest requires at least one class")
    s = F.col(score_col)
    # internal aliases are INDEX-based, never the class value: the
    # class only appears as the stack's output literal. Embedding the
    # value in alias names broke F.expr for negative labels — the
    # common ±1 binary labeling made stack(2, -1, __p-1, __u-1, …),
    # which the SQL parser reads as __p MINUS 1 (r16 self-review).
    g = df.where(s.isNotNull() & ~F.isnan(s.cast("double"))).groupBy(s.alias("__score")).agg(
        F.count("*").alias("__tot"),
        *[
            F.sum((F.col(label_col) == F.lit(c)).cast("long")).alias(f"__c{i}")
            for i, c in enumerate(classes)
        ],
    )
    cum = global_cumsum(
        g,
        [F.col("__score").asc()],
        ["__tot"] + [f"__c{i}" for i in range(len(classes))],
    )
    # per-score contribution to the doubled U statistic of each class
    contribs = []
    for i in range(len(classes)):
        pos_at = F.col(f"__c{i}")
        neg_at = F.col("__tot") - pos_at
        neg_below = (F.col("cum___tot") - F.col("__tot")) - (
            F.col(f"cum___c{i}") - pos_at
        )
        # Cast BEFORE the multiply: pos_at and the 2*neg_below+neg_at
        # factor are both int64 counts, so on tie-heavy scores at
        # billions of rows the long product wraps silently if the
        # decimal cast only happens afterwards.
        contribs.append(
            (
                pos_at.cast("decimal(38,0)")
                * (F.lit(2) * neg_below + neg_at).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias(f"__u2_{i}")
        )
    per_score = cum.select(
        "__tot", *[f"__c{i}" for i in range(len(classes))], *contribs
    )
    agg = per_score.agg(
        F.sum("__tot").alias("__n"),
        *[F.sum(f"__c{i}").alias(f"__p{i}") for i in range(len(classes))],
        *[F.sum(f"__u2_{i}").alias(f"__u{i}") for i in range(len(classes))],
    )
    stack_args = ", ".join(
        f"{int(c)}, __p{i}, __u{i}" for i, c in enumerate(classes)
    )
    stacked = agg.select(
        "__n",
        F.expr(
            f"stack({len(classes)}, {stack_args}) AS (cls, n_pos, __u2)"
        ),
    )
    n_neg = F.col("__n") - F.col("n_pos")
    # degenerate single-class inputs (P or N = 0) have no defined AUC —
    # emit NULL; the unguarded division is a DIVIDE_BY_ZERO under ANSI
    # (found by test_auc_by_group_consistent_with_global's fuzz)
    auc = F.when(
        (F.col("n_pos") > 0) & (n_neg > 0),
        F.col("__u2").cast("double")
        / (F.lit(2.0) * F.col("n_pos").cast("double") * n_neg.cast("double")),
    )
    return stacked.select(
        F.col("cls").cast("int").alias("cls"),
        F.col("n_pos").cast("long").alias("n_pos"),
        n_neg.cast("long").alias("n_neg"),
        auc.alias("auc"),
    )


def auc_by_group(
    df: DataFrame,
    score_col: str,
    positive: Column,
    group_cols: list[str],
) -> DataFrame:
    """Exact ROC AUC per segment — the sliced-evaluation pass that
    catches a model scoring well globally while failing a cohort. Same
    rank-sum identity as :func:`auc_one_vs_rest`, over one
    score-grouped aggregate per (group, score). The doubled-U
    numerator multiplies in decimal(38,0) (tie-heavy billion-row
    segments wrap int64 silently). NULL scores are excluded (see the
    module docstring). Returns one row per group: (group_cols..., n,
    n_pos, n_neg, auc; auc NULL for single-class segments).

    SCALE CONTRACT: the cumulative pass is a window PARTITIONED BY the
    group, so each segment's DISTINCT SCORES evaluate in ONE reducer.
    Right when segments are many and small (per-language, per-domain),
    or when scores are quantized — model probabilities rounded to
    ~1e-6 bound every segment at ~1e6 distinct-score rows of metadata,
    regardless of row count.
    """
    from pyspark.sql.window import Window

    s = F.col(score_col)
    g = df.where(s.isNotNull() & ~F.isnan(s.cast("double"))).groupBy(*group_cols, s.alias("__score")).agg(
        F.count("*").alias("__tot"),
        F.sum(positive.cast("long")).alias("__pos"),
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("__score").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = g.select(
        *group_cols,
        "__tot",
        "__pos",
        F.sum("__tot").over(w).alias("__cum_tot"),
        F.sum("__pos").over(w).alias("__cum_pos"),
    )
    neg_below = (F.col("__cum_tot") - F.col("__tot")) - (
        F.col("__cum_pos") - F.col("__pos")
    )
    neg_at = F.col("__tot") - F.col("__pos")
    u2 = (
        F.col("__pos").cast("decimal(38,0)")
        * (F.lit(2) * neg_below + neg_at).cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    agg = cum.groupBy(*group_cols).agg(
        F.sum("__tot").alias("__n"),
        F.sum("__pos").alias("__p"),
        F.sum(u2).alias("__u2"),
    )
    n_neg = F.col("__n") - F.col("__p")
    auc = F.when(
        (F.col("__p") > 0) & (n_neg > 0),
        F.col("__u2").cast("double")
        / (F.lit(2.0) * F.col("__p").cast("double") * n_neg.cast("double")),
    )
    return agg.select(
        *group_cols,
        F.col("__n").cast("long").alias("n"),
        F.col("__p").cast("long").alias("n_pos"),
        n_neg.cast("long").alias("n_neg"),
        auc.alias("auc"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    positive: Column,
    n_bins: int = 10,
    quantize: int = 1_000_000,
    by: list[str] | None = None,
) -> DataFrame:
    """Reliability-diagram bins over probability scores in [0, 1] —
    the calibration check run after :func:`auc_one_vs_rest`. ONE
    aggregate with map-side partials (scores land in
    ``least(floor(score·B), B−1)`` equal-width bins, clamped at both
    ends so boundary/out-of-range scores never drop rows).

    ``mean_score`` is computed from quantized integer score sums
    (``round(score·quantize)`` summed as DECIMAL(38,0) — float
    summation order varies by engine/partitioning, exact integers
    don't), so the two final divisions are the only float ops and the
    result hash-verifies. NULL and NaN scores are EXCLUDED — without
    the filter, Spark's least/greatest SKIP null arguments, so an
    unscored row would silently land in the TOP bin and corrupt its
    mean and positive rate; a NaN (a real 0/0 model output) passes
    isNotNull, floors to bin 0 under non-ANSI casting (ANSI: fails the
    whole job) yet drops out of the quantized score sum, deflating
    bin 0's mean_score (r16 self-review). With ``by``, bins are
    computed per group — the
    sliced reliability check that pairs with :func:`auc_by_group`
    (still ONE aggregate; the shuffle key just widens to
    (group..., bin)). Returns one row per non-empty bin:
    (by..., bin, bin_lo, bin_hi, n, n_pos, mean_score, frac_pos)."""
    by = by or []
    s = F.col(score_col).cast("double")
    b = F.greatest(
        F.lit(0), F.least(F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1))
    )
    out = (
        df.where(s.isNotNull() & ~F.isnan(s))
        .groupBy(*by, b.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.sum(positive.cast("long")).alias("n_pos"),
            F.sum(F.round(s * quantize).cast("decimal(38,0)")).alias("__sq"),
        )
        .select(
            *by,
            "bin",
            (F.col("bin").cast("double") / n_bins).alias("bin_lo"),
            ((F.col("bin") + 1).cast("double") / n_bins).alias("bin_hi"),
            "n",
            "n_pos",
            (
                F.col("__sq").cast("double")
                / (F.col("n").cast("double") * F.lit(float(quantize)))
            ).alias("mean_score"),
            (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
                "frac_pos"
            ),
        )
    )
    return out


def _curve_counts(df: DataFrame, score_col: str, positive: Column) -> DataFrame:
    """Shared scaffold of the threshold-curve metrics: score-grouped
    counts (NULL scores excluded — an unscored row has no rank, and
    Spark/DuckDB disagree on NULL sort position), the range-partitioned
    :func:`~fabrix_spark.operators.rank.global_cumsum` pass, the
    broadcast (N, P) totals row, and the per-threshold confusion
    counts. One row per distinct score:
    (score, __pos, __tp, __fp, __n_all, __p_all)."""
    s = F.col(score_col)
    scored = df.where(s.isNotNull() & ~F.isnan(s.cast("double")))
    g = scored.groupBy(s.alias("score")).agg(
        F.count("*").alias("__tot"),
        F.sum(positive.cast("long")).alias("__pos"),
    )
    cum = global_cumsum(g, [F.col("score").asc()], ["__tot", "__pos"])
    totals = scored.agg(
        F.count("*").alias("__n_all"),
        F.sum(positive.cast("long")).alias("__p_all"),
    )
    pos_below = F.col("cum___pos") - F.col("__pos")
    neg_below = (F.col("cum___tot") - F.col("__tot")) - pos_below
    tp = F.col("__p_all") - pos_below
    fp = (F.col("__n_all") - F.col("__p_all")) - neg_below
    return cum.crossJoin(F.broadcast(totals)).select(
        "score",
        "__pos",
        tp.cast("long").alias("__tp"),
        fp.cast("long").alias("__fp"),
        "__n_all",
        "__p_all",
    )


def roc_points(df: DataFrame, score_col: str, positive: Column) -> DataFrame:
    """Exact ROC-curve points, one per distinct non-NULL score — the
    curve behind :func:`auc_one_vs_rest`'s scalar. At threshold ``s``
    (predict positive when score ≥ s): ``tp = P − pos_strictly_below``
    and ``fp = N − neg_strictly_below``, from :func:`_curve_counts`'s
    shared cumulative pass. All counts are exact integers; tpr and
    fpr are single divisions of two longs (IEEE-deterministic on any
    engine). Returns (score, tp, fp, tpr, fpr) — plot-ready after an
    ORDER BY score DESC."""
    n_neg = F.col("__n_all") - F.col("__p_all")
    return _curve_counts(df, score_col, positive).select(
        "score",
        F.col("__tp").alias("tp"),
        F.col("__fp").alias("fp"),
        F.when(
            F.col("__p_all") > 0,
            F.col("__tp").cast("double") / F.col("__p_all").cast("double"),
        ).alias("tpr"),
        F.when(
            n_neg > 0, F.col("__fp").cast("double") / n_neg.cast("double")
        ).alias("fpr"),
    )


def pr_points(df: DataFrame, score_col: str, positive: Column) -> DataFrame:
    """Exact precision-recall curve points, one per distinct non-NULL
    score — :func:`roc_points`' sibling off :func:`_curve_counts`'s
    shared cumulative pass. At threshold ``s`` (predict positive when
    score ≥ s): ``precision = tp/(tp+fp)``, ``recall = tp/P`` — each a
    single division of exact int64 counts (IEEE-deterministic on any
    engine). ``tp + fp > 0`` always holds (s is an observed score), so
    precision never divides by zero. Returns
    (score, tp, fp, precision, recall)."""
    return _curve_counts(df, score_col, positive).select(
        "score",
        F.col("__tp").alias("tp"),
        F.col("__fp").alias("fp"),
        (
            F.col("__tp").cast("double")
            / (F.col("__tp") + F.col("__fp")).cast("double")
        ).alias("precision"),
        F.when(
            F.col("__p_all") > 0,
            F.col("__tp").cast("double") / F.col("__p_all").cast("double"),
        ).alias("recall"),
    )


#: quantization scale for average_precision's per-threshold terms —
#: 1e12 keeps 12 significant digits of each precision value while the
#: decimal(38,0) numerator pos_at·tp·SCALE stays far inside 38 digits
#: even at 100 TB row counts (10^19 · 10^19 would overflow; counts are
#: bounded by total rows, so pos_at·tp ≤ N² ≈ 10^26 at N = 10^13).
_AP_SCALE = 1_000_000_000_000


def average_precision(df: DataFrame, score_col: str, positive: Column) -> DataFrame:
    """Exact average precision (area under the PR curve by the
    step-wise sum used by scikit-learn: ``AP = Σ_k (R_k − R_{k−1}) ·
    P_k`` over descending thresholds, which reduces to
    ``Σ_s pos_at(s) · tp(s)/(tp(s)+fp(s)) / P`` over distinct scores).

    Float sums are summation-order-dependent across engines, so each
    term is quantized FIRST — ``⌊pos_at·tp·1e12/(tp+fp)⌋`` — and the
    exact integer sum is divided once at the end: the result is
    bit-identical on any ANSI engine (the micro-nat recipe
    ngram_lm_score uses). The quantization is SPLIT division
    (``q = prod DIV den``; ``frac = (prod % den)·1e12 DIV den``;
    term = q·1e12 + frac) because a direct decimal(38,0)/decimal(38,0)
    quotient in Spark falls back to scale 6 under allowPrecisionLoss —
    NOT exact (the r11 ntile lesson) — while DIV and % on decimals are
    exact integers in both Spark and DuckDB. NULL scores are excluded
    with the rest of the curve family. Returns one row
    (n, n_pos, ap)."""
    prod = "CAST(__pos AS DECIMAL(38,0)) * CAST(__tp AS DECIMAL(38,0))"
    den = "CAST(__tp + __fp AS DECIMAL(38,0))"
    term = F.expr(
        f"CAST(({prod}) DIV ({den}) AS DECIMAL(38,0)) * {_AP_SCALE}"
        f" + (CAST(({prod}) % ({den}) AS DECIMAL(38,0)) * {_AP_SCALE}) DIV ({den})"
    )
    per_score = _curve_counts(df, score_col, positive).select(
        "__p_all", "__n_all", term.cast("decimal(38,0)").alias("__term")
    )
    agg = per_score.groupBy("__n_all", "__p_all").agg(
        F.sum("__term").alias("__sum_q")
    )
    ap = F.when(
        F.col("__p_all") > 0,
        F.col("__sum_q").cast("double")
        / (F.col("__p_all").cast("double") * F.lit(float(_AP_SCALE))),
    )
    return agg.select(
        F.col("__n_all").cast("long").alias("n"),
        F.col("__p_all").cast("long").alias("n_pos"),
        ap.alias("ap"),
    )


def threshold_metrics(
    df: DataFrame, score_col: str, positive: Column, thresholds: list[float]
) -> DataFrame:
    """Confusion-matrix metrics at fixed score thresholds — ONE
    aggregate with map-side partials (4 conditional counts per
    threshold), then a ``stack`` to one row per threshold. No row
    expansion, no shuffle beyond the single reduce; precision, recall
    and F1 are single divisions of exact counts.

    NULL scores are EXCLUDED like everywhere in this module (module
    docstring): without the filter an unscored row would count into
    ``__n``/``__pos`` and land in tn/fn as an implicit
    predicted-negative, which is a labeling decision this function has
    no business making silently. A NULL ``positive`` predicate is a
    NEGATIVE — the same reading the curve family (roc/pr/ap) applies
    (their fp = all-minus-positives arithmetic counts predicate-NULL
    rows as negatives); previously such a row scoring above the
    threshold fell out of BOTH tp and fp and was absorbed into tn,
    silently disagreeing with roc_points on identical data (r16
    self-review).
    """
    if not thresholds:
        raise ValueError("threshold_metrics requires at least one threshold")
    positive = F.coalesce(positive, F.lit(False))
    s = F.col(score_col)
    df = df.where(s.isNotNull() & ~F.isnan(s.cast("double")))
    aggs = [F.sum(positive.cast("long")).alias("__pos"), F.count("*").alias("__n")]
    for i, t in enumerate(thresholds):
        pred = s >= F.lit(t)
        aggs.append(F.sum((pred & positive).cast("long")).alias(f"__tp{i}"))
        aggs.append(F.sum((pred & ~positive).cast("long")).alias(f"__fp{i}"))
    agg = df.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t!r} AS DOUBLE), __tp{i}, __fp{i}" for i, t in enumerate(thresholds)
    )
    stacked = agg.select(
        "__pos",
        "__n",
        F.expr(f"stack({len(thresholds)}, {stack_args}) AS (threshold, tp, fp)"),
    )
    fn = F.col("__pos") - F.col("tp")
    tn = F.col("__n") - F.col("__pos") - F.col("fp")
    precision = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double"),
    )
    recall = F.when(
        F.col("__pos") > 0, F.col("tp").cast("double") / F.col("__pos").cast("double")
    )
    f1 = F.when(
        F.lit(2) * F.col("tp") + F.col("fp") + fn > 0,
        (F.lit(2) * F.col("tp")).cast("double")
        / (F.lit(2) * F.col("tp") + F.col("fp") + fn).cast("double"),
    )
    return stacked.select(
        "threshold",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        tn.cast("long").alias("tn"),
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
    )


def ks_statistic(
    df_a: DataFrame, df_b: DataFrame, value_col: str
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between two
    cohorts' value distributions — the rank-based drift test that
    complements :func:`~fabrix_spark.operators.profile.psi_drift`
    (PSI needs a binning choice; KS is binning-free and sensitive to
    any CDF separation anywhere in the range).

    The empirical-CDF supremum is attained at data points, so the
    union's DISTINCT VALUES are the only evaluation grid needed:
    ``D = max_v |F_a(v) − F_b(v)| = max_v |ca(v)·Nb − cb(v)·Na| /
    (Na·Nb)`` with ca/cb the cumulative counts at v. The numerator is
    an EXACT cross-multiplied integer (no float CDF subtraction, no
    tie ambiguity — counts of a 1e10-row cohort pair multiply to 1e20,
    inside decimal(38,0) with 18 digits of headroom), and the reported
    ``d_micro = (d_num·10⁶) DIV (Na·Nb)`` is a truncating integer
    division — identical on any engine. NULL values are excluded on
    both sides (module contract: an unvalued row has no rank).

    Plan: one tagged union + one (value) hash aggregate (map-side
    combined), the range-partitioned
    :func:`~fabrix_spark.operators.rank.global_cumsum` pass over
    |distinct values| rows (no single-reducer window), one broadcast
    2-value totals row, one final max-aggregate. Returns ONE row:
    (n_a, n_b, d_num, d_micro); two EMPTY cohorts return ZERO rows —
    the ungrouped aggregate's all-NULL row is filtered out so the
    shape matches the GROUP-BY oracle form, which emits no groups on
    empty input (a D statistic over nothing is undefined, not NULL).
    ONE empty cohort returns the row with that side's n = 0 and
    d_micro NULL on both engines (DuckDB's ``// 0`` yields NULL; the
    Spark expression CASE-guards to match instead of raising under
    ANSI)."""
    v = F.col(value_col)
    a = df_a.where(v.isNotNull() & ~F.isnan(v.cast("double"))).select(
        v.alias("val"), F.lit(1).alias("__ta"), F.lit(0).alias("__tb")
    )
    b = df_b.where(v.isNotNull() & ~F.isnan(v.cast("double"))).select(
        v.alias("val"), F.lit(0).alias("__ta"), F.lit(1).alias("__tb")
    )
    g = a.unionByName(b).groupBy("val").agg(
        F.sum("__ta").alias("__da"), F.sum("__tb").alias("__db")
    )
    cum = global_cumsum(g, [F.col("val").asc()], ["__da", "__db"])
    # totals come from the CHECKPOINTED cumsum output (the running
    # sums' maxima — both are nondecreasing), not from re-aggregating
    # g: global_cumsum's localCheckpoint already materialized the
    # distinct-value table, and aggregating g would re-scan both
    # cohorts end to end for a 1-row result
    totals = cum.agg(
        F.max("cum___da").alias("__na"), F.max("cum___db").alias("__nb")
    )
    dnum = F.abs(
        F.col("cum___da").cast("decimal(19,0)") * F.col("__nb").cast("decimal(19,0)")
        - F.col("cum___db").cast("decimal(19,0)") * F.col("__na").cast("decimal(19,0)")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.max("__na").cast("long").alias("n_a"),
            F.max("__nb").cast("long").alias("n_b"),
            F.max(dnum).cast("decimal(38,0)").alias("d_num"),
        )
        .select(
            "n_a",
            "n_b",
            "d_num",
            # guard the ONE-empty-cohort edge: DuckDB's `// 0` yields
            # NULL where ANSI Spark raises — the CASE makes both
            # engines emit NULL (a one-sided D is undefined)
            F.expr(
                "CASE WHEN n_a > 0 AND n_b > 0 THEN"
                " CAST((d_num * 1000000) DIV (CAST(n_a AS DECIMAL(19,0))"
                " * CAST(n_b AS DECIMAL(19,0))) AS BIGINT) END"
            ).alias("d_micro"),
        )
        # both cohorts empty -> the ungrouped agg yields one all-NULL
        # row; drop it so the shape matches the GROUP-BY oracle (zero
        # rows). A 1-row filter — free at any scale.
        .where(F.col("n_a").isNotNull())
    )
