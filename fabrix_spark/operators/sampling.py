"""Deterministic sampling and splitting for training-data pipelines.

``df.sample()`` draws from a per-partition RNG — results change when
partitioning changes, which is unacceptable for reproducible corpus
construction. These operators hash a stable key instead (md5-derived,
like the dedup hash families): the same row lands on the same side of
every split on any engine, any partitioning, any day. All narrow
expressions — no shuffle, no RNG state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "hash_bucket",
    "deterministic_sample",
    "hash_split",
    "leakage_safe_split",
    "stratified_sample",
    "cap_per_group",
    "pack_sequences",
    "rebalance_groups",
    "temperature_mixture",
    "weighted_sample",
    "interleave_sources",
    "poisson_cdf_thresholds",
    "bootstrap_metrics",
    "fixed_size_sample",
    "negative_pairs",
    "waterfill_caps",
    "token_budget_sample",
    "cluster_balanced_sample",
    "target_mix_sample",
    "weighted_reservoir",
]

_BUCKETS = 10_000


def hash_bucket(key: Column, buckets: int = _BUCKETS, salt: str = "") -> Column:
    """Stable bucket in [0, buckets): first 8 md5 hex chars of the
    (salted) key, mod buckets. Engine-independent (reproducible in any
    system with md5 — the oracle computes the identical bucket)."""
    h = F.conv(F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt)).cast("binary")), 1, 8), 16, 10)
    return (h.cast("long") % buckets).cast("int")


def _rank_hash(key: Column, salt: str = "", digits: int = 15) -> Column:
    """The module's shared md5 RANK hash: first ``digits`` hex chars of
    md5(key || salt) as a long — the single definition of the recipe
    every exactly-k/per-group-capped operator ranks by (previously
    copy-pasted five times; one drift would silently fork their
    determinism contracts). 15 digits = 60 bits (tie-free for distinct
    keys); weighted_reservoir uses 13 (exactly a double's mantissa)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(key.cast("string"), F.lit(salt)).cast("binary")),
            1,
            digits,
        ),
        16,
        10,
    ).cast("long")


def deterministic_sample(
    df: DataFrame, key: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key hash — stable across
    runs, engines, and partitionings."""
    cut = int(round(fraction * _BUCKETS))
    return df.filter(hash_bucket(F.col(key), _BUCKETS, salt) < cut)


def hash_split(df: DataFrame, key: str, weights: dict[str, float], salt: str = "") -> DataFrame:
    """Assign each row to a named split (e.g. train/val/test) by key
    hash; weights must sum to ~1. Adds a ``split`` column.

    NULL keys are EXCLUDED (same contract as the filter-style samplers,
    where a NULL bucket fails every comparison and drops — without the
    explicit filter here, the when-chain's ``otherwise`` would silently
    dump every unknown-identity row into the LAST-NAMED split,
    contaminating exactly the eval cohort; r16 self-review)."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"weights must sum to 1, got {total}")
    df = df.filter(F.col(key).isNotNull())
    bucket = hash_bucket(F.col(key), _BUCKETS, salt)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = bucket < int(round(acc * _BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", expr)


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Near-dup-aware train/val/test split: documents connected by a
    dedup ``pairs`` edge (id_a/id_b near-duplicates) are resolved to
    duplicate clusters first, then the WHOLE cluster is assigned to
    one split by hashing its cluster id — a near-copy of a training
    document can never land in validation/test, closing the
    contamination path a per-document split leaves open.

    Output: df columns + ``cluster_id`` + ``split``. Cost: the
    connected-components resolution (bounded iterative contraction,
    see :func:`~fabrix_spark.operators.dedup.dup_clusters`) plus one
    join; the split assignment itself is a narrow md5 expression."""
    from .dedup import dup_clusters

    clusters = dup_clusters(df, pairs, id_col=id_col)
    return hash_split(df.join(clusters, id_col), "cluster_id", weights, salt)


def stratified_sample(
    df: DataFrame, key: str, stratum_col: str, fractions: dict[str, float], salt: str = ""
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    keep 10% of 'en', 100% of low-resource languages). Strata missing
    from ``fractions`` are dropped."""
    bucket = hash_bucket(F.col(key), _BUCKETS, salt)
    cond = None
    for stratum, frac in fractions.items():
        c = (F.col(stratum_col) == stratum) & (bucket < int(round(frac * _BUCKETS)))
        cond = c if cond is None else (cond | c)
    return df.filter(cond if cond is not None else F.lit(False))


def cap_per_group(df: DataFrame, key: str, group_col: str, n: int, salt: str = "") -> DataFrame:
    """Keep at most ``n`` rows per group, chosen by key-hash order —
    the per-source/per-domain cap every corpus mix applies, stable
    across reruns (unlike rand()-ranked sampling). One shuffle on the
    group column. NULL keys are excluded (fixed_size_sample's
    contract: a NULL hash sorts first AND ties, so null-key rows would
    preferentially fill the n slots in partition-dependent order)."""
    df = df.filter(F.col(key).isNotNull())
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key), salt=salt).asc(), F.col(key).asc()
    )
    return (
        df.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n)
        .drop("__r")
    )


def weighted_sample(df: DataFrame, key: str, weight: Column, salt: str = "") -> DataFrame:
    """Per-row Bernoulli keep with probability ``weight`` (a Column in
    [0, 1] — e.g. a quality score), decided by stable key hash instead
    of an RNG: the same row keeps/drops identically on any engine,
    partitioning, or rerun. The quality-weighted corpus-sampling
    primitive; narrow, shuffle-free.

    NULL and NaN weights DROP the row (r17 self-review): an
    undecidable keep-probability keeps nothing — and the unguarded
    ANSI long cast of round(NaN) previously killed the whole pass on
    one poisoned score. Negative weights keep nothing, weights ≥ 1
    keep everything (the natural clamp of the hash comparison)."""
    wd = weight.cast("double")
    cut = F.when(~F.isnan(wd), F.round(wd * _BUCKETS).cast("long"))
    return df.filter(hash_bucket(F.col(key), _BUCKETS, salt) < cut)


def pack_sequences(
    df: DataFrame,
    key: str,
    length_col: str,
    budget: int,
    shards: int = 32,
    salt: str = "",
) -> DataFrame:
    """Assign documents to fixed-token-budget training packs — the
    sequence-packing step of every LLM data loader (concat documents
    until ``budget`` tokens, start the next pack).

    Documents are first routed to ``shards`` stable hash shards (packs
    never cross a shard, so the layout is embarrassingly parallel and
    identical on any cluster size — a single global ordering would
    serialize on one partition at 100 TB). Within a shard, documents
    are laid out in deterministic key-hash order and greedily packed by
    running token count: a document starting at offset ``o`` joins pack
    ``o // budget``.

    Output: the input columns plus shard, pack (per-shard pack
    index), and pack_offset (token offset of this document within its
    shard's concatenated stream) — everything a loader needs to cut
    physical training rows. One shuffle (the per-shard window sort).

    Lengths must be POSITIVE — a NULL or nonpositive ``length_col``
    raises loudly per row (r17 self-review): the window sum skips
    NULLs, so a NULL-length document silently landed in pack NULL, and
    a negative length walked the running offset BACKWARD, corrupting
    every later pack boundary in the shard. Pack layout assigns
    training data; silently mislaying documents is worse than failing
    the job (the gram_matrix overflow-refusal contract)."""
    shard = (hash_bucket(F.col(key), _BUCKETS, salt) % shards).cast("int")
    order = hash_bucket(F.col(key), _BUCKETS, salt + "order")
    checked_len = F.when(F.col(length_col) > 0, F.col(length_col)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"pack_sequences: {length_col} must be > 0, got "),
                F.coalesce(F.col(length_col).cast("string"), F.lit("NULL")),
            )
        )
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("__ord").asc(), F.col(key).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("shard", shard)
        .withColumn("__ord", order)
        .withColumn("__cum", F.sum(checked_len).over(w))
        .withColumn("pack", ((F.col("__cum") - F.col(length_col)) / budget).cast("long"))
        .withColumn("pack_offset", F.col("__cum") - F.col(length_col))
        .drop("__ord", "__cum")
    )


def temperature_mixture(
    df: DataFrame,
    key: str,
    group_col: str,
    alpha: float = 0.5,
    salt: str = "",
) -> DataFrame:
    """Temperature-based corpus mixing (the standard multilingual /
    multi-domain sampling schedule, public methodology: sample group g
    with probability ∝ n_g^α): group g deterministically keeps the
    fraction ``(n_min / n_g)^(1-α)`` of its rows, so

      * α = 1 → natural distribution (keep everything),
      * α = 0 → uniform (== :func:`rebalance_groups`),
      * 0 < α < 1 → interpolates, up-weighting small groups without
        flattening the corpus.

    The normalization pins the smallest group's keep-fraction at 1 —
    pure downsampling, no replacement needed. Deterministic by key
    hash. At the default α = 0.5 the cut is ``sqrt(n_min/n_g)``:
    IEEE sqrt is correctly rounded in every engine (unlike ``pow``),
    so the DuckDB oracle reproduces the cut — and therefore the exact
    row set — bit-for-bit. Same scale shape as rebalance_groups:
    tiny-side cut derivation, one broadcast hash join, narrow filter;
    the corpus never shuffles. NULL-group rows are excluded before the
    count derivation (rebalance_groups' r17 contract: one missing-group
    row otherwise poisons n_min and collapses every group's cut)."""
    df = df.filter(F.col(group_col).isNotNull())
    counts = df.groupBy(group_col).agg(F.count("*").alias("__cnt"))
    floor = counts.agg(F.min("__cnt").alias("__min"))
    ratio = F.col("__min") / F.col("__cnt")
    frac = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    cuts = counts.crossJoin(floor).select(
        group_col,
        F.round(frac * _BUCKETS).cast("long").alias("__cut"),
    )
    return (
        df.join(F.broadcast(cuts), group_col)
        .filter(hash_bucket(F.col(key), _BUCKETS, salt) < F.col("__cut"))
        .drop("__cut")
    )


def rebalance_groups(
    df: DataFrame,
    key: str,
    group_col: str,
    salt: str = "",
) -> DataFrame:
    """Downsample every group to the size of the smallest one — the
    uniform corpus-mixing step (e.g. balance languages or sources
    before training). Deterministic: each group keeps the fraction
    ``min_count / group_count`` of its rows chosen by key hash, so the
    output is stable across engines and partitionings.

    Scale shape: per-group keep-cuts are derived tiny-side (counts ×
    global min — the nested-loop join touches only the group table,
    never the corpus) and broadcast back as one hash join; the filter
    is a narrow expression. The corpus never shuffles.

    NULL-group rows are EXCLUDED before the count derivation (r17
    self-review): GROUP BY collects NULLs into one group whose count
    participates in the global MIN, so a single garbage row with a
    missing group collapsed n_min to 1 and downsampled the ENTIRE
    corpus to ~one row per group — the inner cuts join then dropped
    the NULL rows anyway, so the poisoned floor was the only thing
    they contributed."""
    df = df.filter(F.col(group_col).isNotNull())
    counts = df.groupBy(group_col).agg(F.count("*").alias("__cnt"))
    floor = counts.agg(F.min("__cnt").alias("__min"))
    # nested-loop here is n_groups × 1 rows — tiny-side only; the
    # corpus joins the finished cuts with one broadcast HASH join
    cuts = counts.crossJoin(floor).select(
        group_col,
        F.round(F.col("__min") / F.col("__cnt") * _BUCKETS).cast("long").alias("__cut"),
    )
    return (
        df.join(F.broadcast(cuts), group_col)
        .filter(hash_bucket(F.col(key), _BUCKETS, salt) < F.col("__cut"))
        .drop("__cut")
    )


def interleave_sources(
    df: DataFrame,
    source_col: str = "source",
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    default_weight: float = 1.0,
) -> DataFrame:
    """Deterministic multi-corpus mixing schedule — the order training
    examples from several sources are fed at a given mixture ratio:
    each source is deterministically shuffled (md5-hash order, the
    repo's seedless-shuffle idiom), every row gets the virtual
    position rank/weight, and the global feed order sorts by position
    (a source with weight 2 appears twice as often per unit of
    schedule).

    The global sequence number is assigned WITHOUT a single-partition
    window: rows are range-partitioned on the (position, source, rn)
    sort key, per-partition counts (one tiny collect, like the CC
    convergence check) become cumulative offsets, and each row's
    mix_order = its partition's offset + its rank WITHIN the
    partition — every sort and window stays parallel, which is the
    difference between a schedule you can emit for a 100 TB corpus
    and one that funnels the corpus through one task. The result is
    identical to the naive global window regardless of where the
    sampled range boundaries fall, because the sort key is unique.

    Returns (id_col, source_col, rn, mix_order): rn = the row's rank
    within its source's shuffle, mix_order = its global feed position.

    Weights must be POSITIVE: a zero weight would make every row of
    that source NULL-positioned (nulls-first — the "excluded" source
    would LEAD the schedule) or fail under ANSI division; to drop a
    source, filter it out instead (r16 self-review)."""
    bad = {n: w for n, w in (weights or {}).items() if not w > 0}
    if bad or not default_weight > 0:
        raise ValueError(
            f"interleave_sources weights must be > 0 "
            f"(default_weight={default_weight}, bad={bad}); "
            f"filter a source out to exclude it"
        )
    w_src = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string").cast("binary")).asc(), F.col(id_col).asc()
    )
    weight = F.lit(float(default_weight))
    for name, w in (weights or {}).items():
        weight = F.when(F.col(source_col) == name, F.lit(float(w))).otherwise(weight)
    ranked = df.select(id_col, source_col).withColumn(
        "rn", F.row_number().over(w_src)
    )
    spark = df.sparkSession
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    arranged = (
        ranked.withColumn("__pos", F.col("rn") / weight)
        .repartitionByRange(n_parts, F.col("__pos"), F.col(source_col), F.col("rn"))
        .withColumn("__pid", F.spark_partition_id())
    )
    # Pin the partitioning: repartitionByRange samples its boundaries
    # per JOB (seeded by RDD id), so the count pass and the final pass
    # below would otherwise re-sample and could place rows in different
    # partitions once data outgrows the boundary sample — exactly the
    # 100 TB case. localCheckpoint materializes ONE assignment both
    # passes read. Lazy is not deferred under AQE:
    # AdaptiveSparkPlanExec.execute() builds the final plan, so this
    # call samples the range bounds and runs the range shuffle; the
    # count pass below runs only the final stage and stores the
    # checkpoint.
    arranged = arranged.localCheckpoint(eager=False)
    counts = {
        r["__pid"]: r["c"]
        for r in arranged.groupBy("__pid").agg(F.count("*").alias("c")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "__pid int, __off long"
    )
    w_local = Window.partitionBy("__pid").orderBy(
        F.col("__pos").asc(), F.col(source_col).asc(), F.col("rn").asc()
    )
    return (
        arranged.join(F.broadcast(off_df), "__pid")
        .withColumn(
            "mix_order",
            (F.col("__off") + F.row_number().over(w_local)).cast("long"),
        )
        .select(id_col, source_col, "rn", "mix_order")
    )


def poisson_cdf_thresholds(max_k: int = 10) -> list[int]:
    """Integer 32-bit thresholds of the Poisson(1) CDF:
    ``thresholds[k] = floor(P(X <= k) * 2^32)``. A row's bootstrap
    multiplicity is the smallest k with ``h32 < thresholds[k]`` (else
    ``max_k``). Pure driver-side constants inlined into BOTH the Spark
    plan and the SQL oracle, so the two engines compare the same
    int64s — no floating-point threshold ever crosses an engine
    boundary."""
    import math

    out, acc, p = [], 0.0, math.exp(-1.0)
    for k in range(max_k):
        acc += p
        out.append(min(int(acc * 4294967296.0), 4294967295))
        p /= k + 1
    return out


def bootstrap_metrics(
    df: DataFrame,
    id_col: str,
    value_col: str,
    replicates: int = 20,
    value_scale: int = 100,
    max_k: int = 10,
) -> DataFrame:
    """Deterministic Poisson bootstrap (Efron's bootstrap in the
    per-row-multiplicity form used for massive data): each replicate
    re-weights every row by a Poisson(1) draw derived from
    ``md5(id '_' rep)``, and the per-replicate aggregate distribution
    estimates the metric's sampling variance — eval error bars without
    materializing resampled datasets.

    The draw is the repo's seedless-hash idiom: h32 = first 8 md5 hex
    chars; multiplicity = inverse-CDF lookup against INTEGER
    thresholds (:func:`poisson_cdf_thresholds`) — bit-reproducible on
    any engine with md5, independent of partitioning. Scale shape:
    ``explode(sequence(replicates))`` fans each row out map-side
    (R× rows, narrow columns), ONE hash aggregate on rep — no shuffle
    of the raw table, no driver-side resampling.

    Returns (rep, n_rows, n_samples, sum_scaled, mean_value):
    n_samples = Σk, sum_scaled = Σ k·round(value·value_scale) exact
    int64, mean_value = sum_scaled / (n_samples·value_scale) as an
    UNROUNDED double (identical IEEE division on any engine).

    NULL ids are EXCLUDED: a NULL id hashes to NULL, every threshold
    comparison is then NULL, and the when-chain's ``otherwise`` would
    assign multiplicity ``max_k`` to the row in EVERY replicate —
    a deterministic 10× weight that no replicate variance reveals
    (r16 self-review)."""
    thresholds = poisson_cdf_thresholds(max_k)
    rep = F.explode(F.sequence(F.lit(0), F.lit(replicates - 1))).alias("rep")
    df = df.filter(F.col(id_col).isNotNull())
    base = df.select(
        F.col(id_col).cast("string").alias("__id"),
        F.round(F.col(value_col).cast("double") * value_scale)
        .cast("long")
        .alias("__v"),
    ).select("__id", "__v", rep)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("__id"), F.lit("_"), F.col("rep").cast("string")
                ).cast("binary")
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    k = F.when(h < thresholds[0], 0)
    for i in range(1, len(thresholds)):
        k = k.when(h < thresholds[i], i)
    k = k.otherwise(len(thresholds)).cast("long")
    return (
        base.select("rep", k.alias("__k"), "__v")
        .groupBy("rep")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("__k").alias("n_samples"),
            F.sum(F.col("__k") * F.col("__v")).alias("sum_scaled"),
        )
        .select(
            F.col("rep").cast("long").alias("rep"),
            "n_rows",
            "n_samples",
            "sum_scaled",
            # a replicate can draw multiplicity 0 for EVERY row (small
            # inputs); its mean is undefined — NULL, not a
            # divide-by-zero job failure under ANSI (r16 self-review)
            F.when(
                F.col("n_samples") > 0,
                F.col("sum_scaled").cast("double")
                / (F.col("n_samples").cast("double") * value_scale),
            ).alias("mean_value"),
        )
    )


def fixed_size_sample(df: DataFrame, key: str, n: int, salt: str = "") -> DataFrame:
    """EXACTLY ``n`` rows (fewer only if the input is smaller), chosen
    as the n smallest md5 hashes of the key — the deterministic
    replacement for reservoir sampling: stable across runs, engines,
    and partitionings (same contract as :func:`deterministic_sample`,
    but a fixed COUNT instead of a fraction — what an eval-set carve-
    out or a labeling batch needs). Ties cannot occur for distinct
    keys (the full 15-hex-digit hash is the rank).

    NULL keys are excluded: a NULL key hashes to NULL, which Spark's
    default ASC order puts FIRST but DuckDB's puts LAST — null rows
    would both preferentially fill the n slots and break cross-engine
    determinism (they all tie, so the pick among them is arbitrary).
    Requiring non-null keys keeps the contract exact; filter or
    coalesce upstream if null-key rows must be sampleable.

    Plan: one narrow hash projection + global top-n
    (TakeOrderedAndProject — per-partition heaps then a merge of n·P
    rows, never a full sort of the corpus)."""
    h = _rank_hash(F.col(key), salt)
    return (
        df.filter(F.col(key).isNotNull())
        .withColumn("__rank_h", h)
        .orderBy(F.col("__rank_h").asc(), F.col(key).asc())
        .limit(n)
        .drop("__rank_h")
    )


def negative_pairs(df: DataFrame, key: str, salt: str = "") -> DataFrame:
    """Deterministic negative-pair mining for contrastive training:
    every row is paired with one pseudo-random OTHER row — a fixed-
    point-free permutation, not a cross join. Rows are ranked by the
    md5 hash of their key (a deterministic shuffle — same recipe as
    :func:`deterministic_sample`), then rank r pairs with rank
    ``(r - 1 + n//2) mod n + 1``: adding a constant shift modulo n is
    a derangement whenever ``n >= 2``, the pairing is uniform w.r.t.
    the hash order, and the whole construction replays identically on
    any engine (the property a training pipeline needs to regenerate
    the same negatives).

    Plan: one :func:`operators.rank.global_rank` (range shuffle +
    metadata offsets — no single-reducer window) + one equi-join of
    the ranked table with its shifted self on the rank key. NULL keys
    are excluded (same contract as fixed_size_sample). Returns
    (anchor_id, negative_id) — one row per DISTINCT non-null key (the
    pairing is over identities, so duplicate and null-key input rows
    do not each get a pair; size the negatives batch by distinct
    keys)."""
    from .rank import global_rank

    h = _rank_hash(F.col(key), salt)
    base = (
        df.select(key)
        .filter(F.col(key).isNotNull())
        .distinct()
        .withColumn("__h", h)
    )
    ranked, n = global_rank(
        base, [F.col("__h").asc(), F.col(key).asc()], rank_col="__r"
    )
    if n < 2:
        return ranked.sparkSession.createDataFrame(
            [], f"anchor_id {df.schema[key].dataType.simpleString()}, negative_id {df.schema[key].dataType.simpleString()}"
        )
    shift = n // 2
    a = ranked.select(
        F.col(key).alias("anchor_id"),
        ((F.col("__r") - 1 + F.lit(shift)) % F.lit(n) + 1).alias("__p"),
    )
    b = ranked.select(F.col(key).alias("negative_id"), F.col("__r").alias("__p"))
    return a.join(b, "__p").select("anchor_id", "negative_id")


def waterfill_caps(group_tokens: DataFrame, budget: int, group_col: str = "grp") -> DataFrame:
    """Water-filling cap solver: given per-group token totals, find the
    single cap ``c`` such that Σ_g min(tokens_g, c) ≤ budget with c
    maximal — the standard way to hit an EXACT corpus token budget
    while flattening over-represented groups (small groups keep
    everything, big groups truncate to the common water level).

    Closed form over the sorted group table: with groups sorted by
    total ascending and S_k the prefix sum, the water level sits after
    the largest k where S_k + (G-k)·t_k ≤ budget isn't yet exceeded;
    c = (budget - S_k) // (G - k) (integer division → never over
    budget). All windows run over the GROUP table — metadata-sized by
    construction — so the single-partition sort is bounded, not a
    corpus sort. Returns (group, tokens, cap) with cap = min(tokens,
    c); caps sum to ≤ budget, within one token·G of it."""
    t = group_tokens.select(F.col(group_col).alias("grp"), F.col("tokens").cast("long"))
    w = Window.orderBy(F.col("tokens").asc(), F.col("grp").asc())
    # materialize the ranked group table once: the count, the
    # feasibility probe, and the returned plan all read it, and the
    # INPUT is typically a corpus-wide aggregate
    # (token_budget_sample's groupBy) that would otherwise re-execute
    # its scan+shuffle per action. Group-table sized by contract.
    ranked = (
        t.withColumn("__i", F.row_number().over(w))
        .withColumn("__prefix", F.sum("tokens").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ))
    ).localCheckpoint(eager=True)
    g_total = ranked.count()
    # feasible rows: groups small enough to keep whole at their level
    feas = ranked.filter(
        F.col("__prefix") + (F.lit(g_total) - F.col("__i")) * F.col("tokens")
        <= budget
    ).agg(F.max("__i").alias("k"), F.max("__prefix").alias("s_k"))
    row = feas.first()
    k, s_k = (row["k"] or 0), (row["s_k"] or 0)
    if k >= g_total:
        level = None  # everything fits
    else:
        level = (budget - s_k) // (g_total - k)
    cap = (
        F.col("tokens") if level is None
        else F.least(F.col("tokens"), F.lit(int(level)))
    )
    return ranked.select("grp", "tokens", cap.alias("cap"))


def token_budget_sample(
    df: DataFrame,
    key: str,
    group_col: str,
    length_col: str,
    budget: int,
    salt: str = "",
) -> DataFrame:
    """Select documents to an EXACT total token budget with
    water-filled per-group caps: per-group token totals → one
    water-fill solve (:func:`waterfill_caps` — metadata-sized) → each
    group keeps its documents in deterministic key-hash order while
    the running token sum stays within its cap. The LLM-mixture
    primitive: over-represented sources flatten to the water level,
    small sources keep everything, the selection replays identically
    on any engine.

    Plan: one group aggregate, the tiny solver, one broadcast of the
    caps, one per-group window (partitioned — scalable) for the
    running sum. Returns the kept rows + ``grp_cap``. NULL keys are
    excluded — before the totals too, so the water level is solved
    over exactly the selectable rows (a NULL hash would otherwise
    sort first AND tie, filling the cap in partition-dependent
    order)."""
    df = df.filter(F.col(key).isNotNull())
    totals = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.sum(length_col).alias("tokens")
    )
    caps = waterfill_caps(totals, budget)
    w = (
        Window.partitionBy(group_col)
        .orderBy(hash_bucket(F.col(key), salt=salt).asc(), F.col(key).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        df.withColumn("__cum", F.sum(length_col).over(w))
        .join(
            F.broadcast(caps.select(F.col("grp").alias(group_col), F.col("cap"))),
            group_col,
        )
        .filter(F.col("__cum") <= F.col("cap"))
        .drop("__cum")
        .withColumnRenamed("cap", "grp_cap")
    )


def cluster_balanced_sample(
    df: DataFrame,
    centroids: DataFrame,
    cap: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "",
) -> DataFrame:
    """Cluster-balanced (diversity) sampling over an embedding column:
    assign every vector to its nearest centroid (the centroid table is
    collected and broadcast — the corpus never shuffles for
    assignment), then keep at most
    ``cap`` vectors per cluster by the deterministic md5 rank of the
    id — the embedding-space analogue of per-source capping, used to
    flatten over-represented semantic regions before training (the
    cluster-then-balance recipe behind diversity/DoReMi-style corpus
    mixing).

    Output: (id, cluster_id, cluster_n) for kept rows — cluster_n is
    the PRE-cap cluster population, so the balancing is auditable.

    Scale shape: one map-only assignment pass + one shuffle on
    cluster_id for the capped rank (centroid ids must be integral).
    Parallelism within the rank is bounded by the number of clusters —
    at corpus scale train enough
    centroids (k ≫ cores; k ~ √N is the usual IVF sizing) so the
    per-cluster rank partitions stay balanced; the md5 rank makes the
    kept set independent of partitioning, so results never change
    when k's layout does."""
    from .similarity import ivf_assign

    a = ivf_assign(df, centroids, id_col=id_col, vec_col=vec_col)
    h = _rank_hash(F.col(id_col), salt)
    w = Window.partitionBy("centroid_id")
    wr = w.orderBy(h.asc(), F.col(id_col).asc())
    return (
        a.withColumn("__rk", F.row_number().over(wr))
        .withColumn("cluster_n", F.count("*").over(w))
        .filter(F.col("__rk") <= cap)
        .select(
            F.col(id_col),
            F.col("centroid_id").alias("cluster_id"),
            F.col("cluster_n"),
        )
    )


def target_mix_sample(
    df: DataFrame,
    weights: dict[str, int],
    group_col: str = "lang",
    key: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Sample the corpus DOWN to a target group mix — the domain-mix
    knob of a pretraining pipeline (so-many-parts web, so-many-parts
    code, …), expressed as integer ``weights`` per group. The largest
    achievable mix keeps ``keep_g = floor(w_g · min_h(avail_h / w_h))``
    rows of group g: the scarcest group relative to its weight is kept
    WHOLE and every other group scales down to match, so the output
    proportions are the closest the data allows to the target.

    Exact integer arithmetic throughout: min and floor commute, so
    ``keep_g = min_h((w_g · avail_h) // w_h)`` — no float ratio, no
    argmin tie-break, reproducible on any engine. Groups absent from
    ``weights`` are dropped; a weighted group absent from the data
    zeroes every quota (the mix is unachievable without it).

    Selection inside each group is the md5-rank recipe
    (:func:`fixed_size_sample`'s determinism contract). The per-group
    rank comes from ONE :func:`rank.global_rank` over the
    (group, hash) total order plus a group-sized min-rank base
    broadcast back — no per-group single-reducer window, so a 2-group
    × billions-of-rows mix ranks in parallel. Returns the kept rows
    with ``grp_rank``."""
    from .rank import global_rank

    groups = sorted(weights)
    src = df.filter(
        F.col(key).isNotNull() & F.col(group_col).isin(list(groups))
    )
    avail = {
        r[group_col]: r["__n"]
        for r in src.groupBy(group_col).agg(F.count("*").alias("__n")).collect()
    }
    keep = {
        g: min(
            (weights[g] * avail.get(h, 0)) // weights[h] for h in groups
        )
        for g in groups
    }
    h = _rank_hash(F.col(key), salt)
    ranked, _ = global_rank(
        src.withColumn("__rank_h", h),
        [F.col(group_col).asc(), F.col("__rank_h").asc(), F.col(key).asc()],
        rank_col="__grank",
    )
    base = ranked.groupBy(group_col).agg(F.min("__grank").alias("__base"))
    keep_entries: list[Column] = []
    for g in groups:
        keep_entries.extend((F.lit(g), F.lit(int(keep[g]))))
    keep_col = F.create_map(*keep_entries)[F.col(group_col)]
    return (
        ranked.join(F.broadcast(base), group_col)
        .withColumn("grp_rank", (F.col("__grank") - F.col("__base") + 1))
        .filter(F.col("grp_rank") <= keep_col)
        .drop("__grank", "__base", "__rank_h")
    )


def weighted_reservoir(
    df: DataFrame,
    key: str,
    weight: Column,
    k: int,
    salt: str = "",
) -> DataFrame:
    """EXACTLY-k weighted sampling without replacement — the
    Efraimidis–Spirakis reservoir (public methodology, E&S 2006):
    every row draws a stable uniform ``u`` from its key hash and is
    ranked by the key ``u^(1/w)``; the k largest keys ARE a
    without-replacement sample with inclusion probability increasing
    in ``w``. The complement to :func:`weighted_sample` (Bernoulli —
    variable sample size) and :func:`fixed_size_sample` (exactly-k but
    unweighted).

    Determinism recipe: ``u`` comes from the first 13 md5 hex digits
    (52 bits — exactly a double's mantissa, so ``(h+1)/2⁵²`` is an
    exact IEEE value in (0, 1]); ``ln(u)`` quantizes ONCE per row to
    int64 nano-nats, and the ES order ``ln(u)/w`` is ranked as the
    SINGLE int/int double division — identical IEEE value on any
    engine (the repo's rank-ratio rule). Ties break on the key.
    Rows with NULL or non-positive weight are excluded (ES is
    undefined there).

    Plan: one narrow map + TakeOrdered (per-partition heaps of k —
    nothing global materializes, no window, no shuffle beyond the
    k-row result collection). Returns the k sampled rows with
    (``__w``, ``__t_nano``) attached for auditability.

    WEIGHTS ARE INTEGER by contract (quantize upstream — a quality
    score in (0,1) should arrive in milli-units, not as a double that
    ``cast long`` would silently truncate to 0 and drop). A
    fractional-typed weight expression is rejected loudly."""
    wtype = df.select(weight.alias("__wt")).schema[0].dataType.simpleString()
    if wtype in ("float", "double") or wtype.startswith("decimal") and not wtype.endswith(",0)"):
        raise ValueError(
            f"weighted_reservoir: weight has fractional type {wtype} — "
            "quantize to integer units upstream (e.g. milli-units); a "
            "silent cast-to-long would truncate sub-1 weights to 0 and "
            "drop those rows"
        )
    w = weight.cast("long")
    h = _rank_hash(F.col(key), salt, digits=13)
    t_nano = F.round(
        F.log((h + 1).cast("double") / F.lit(float(1 << 52))) * 1_000_000_000
    ).cast("long")
    out = (
        df.withColumn("__w", w)
        .where(F.col("__w").isNotNull() & (F.col("__w") > 0))
        .withColumn("__t_nano", t_nano)
    )
    es_key = F.col("__t_nano").cast("double") / F.col("__w")
    return out.orderBy(es_key.desc(), F.col(key).asc()).limit(k)
