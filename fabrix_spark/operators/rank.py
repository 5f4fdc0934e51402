"""Distributed global ranking — the scale-safe replacement for
unpartitioned window functions.

An unpartitioned ``row_number()``/``ntile()`` window evaluates in ONE
task: Spark range-partitions a global ``orderBy`` for the *sort*, but
a window with an empty partition spec still collapses every row into
a single reducer. At 100 TB (or merely 100× the user count) that task
is the plan's bottleneck. The standard production shape instead:

1. ``repartitionByRange`` on the order key — a distributed sort whose
   partition boundaries come from reservoir sampling, so partitions
   balance even under value skew;
2. assign per-partition sequence numbers with
   ``monotonically_increasing_id()`` over the sorted iterator (the id
   packs ``partition_id << 33 | local_position``, and its
   nondeterministic marking pins it above the sort);
3. one metadata-sized aggregate — rows per range partition (at most
   ``#partitions`` longs ever reach the driver);
4. add the broadcast cumulative offset: ``rank = offset[pid] + local``.

The materialization barrier (``localCheckpoint``) freezes the sampled
range boundaries and the sequence ids so the counting job and the
ranking job see the SAME partitioning — without it the two jobs would
re-sample boundaries independently and the offsets could lie. Any
exact global ranking needs such a barrier; the checkpoint is on the
(already aggregated, key-unique) ranking input, never the raw corpus.

``global_ntile`` derives exact ``NTILE(k)`` semantics — the first
``n mod k`` buckets take ``ceil(n/k)`` rows, the rest ``floor(n/k)``
— from the global rank, so results hash-match a single-reducer window
(and any ANSI engine) bit for bit while every stage stays parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["global_rank", "global_ntile", "ntile_from_rank", "global_cumsum"]

_MONO = "__fx_mono__"
_LOW33 = (1 << 33) - 1

# Above this many range partitions the per-partition offsets stop
# inlining as a literal create_map (2 expressions per partition bloat
# the plan of EVERY consumer — ntile×3 in RFM triples it) and instead
# ride a broadcast hash join on the partition id: one metadata-sized
# broadcast, zero extra exchanges, same values.
OFFSET_JOIN_THRESHOLD = 4096


def _offset_expr_or_join(
    s: DataFrame,
    pid_col: Column,
    offsets: list[tuple[int, tuple[int, ...]]],
    n_cols: int,
) -> tuple[DataFrame, list[Column]]:
    """Attach cumulative per-partition offsets — rows of
    ``(pid, (off_col0, off_col1, …))`` — to ``s`` either as inlined
    literal map lookups (at most :data:`OFFSET_JOIN_THRESHOLD`
    partitions) or ONE broadcast join on the partition id carrying all
    columns (above it). Returns the (possibly joined) frame and one
    offset Column per value column. Both paths are value-identical;
    the join path keeps the consumer plan O(1) in the partition count.
    This is the SINGLE policy site — :func:`global_rank` (one column)
    and :func:`global_cumsum` (many) both route through it, so the
    threshold cannot drift."""
    if not offsets:
        return s, [F.lit(0)] * n_cols
    if len(offsets) <= OFFSET_JOIN_THRESHOLD:
        exprs: list[Column] = []
        for ci in range(n_cols):
            entries: list[Column] = []
            for p, offs in offsets:
                entries.extend((F.lit(int(p)), F.lit(int(offs[ci]))))
            exprs.append(F.create_map(*entries)[pid_col])
        return s, exprs
    off_cols = [f"__fx_off_{ci}__" for ci in range(n_cols)]
    off_df = s.sparkSession.createDataFrame(
        [(int(p), *[int(o) for o in offs]) for p, offs in offsets],
        ", ".join(["__fx_opid__ long"] + [f"{c} long" for c in off_cols]),
    )
    joined = s.withColumn("__fx_opid__", pid_col.cast("long")).join(
        F.broadcast(off_df), "__fx_opid__", "left"
    )
    return joined, [F.coalesce(F.col(c), F.lit(0)) for c in off_cols]


def global_rank(
    df: DataFrame,
    order: list[Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact 1-based global rank under ``order`` (which must be a
    TOTAL order — include a unique tie-break column, or equal rows get
    an arbitrary but deterministic-within-run placement) without an
    unpartitioned window. Returns ``(df + rank_col, total_rows)``.

    Cost: one range shuffle + one materialization of the input + one
    #partitions-sized aggregate. Use on aggregated/ranking-sized
    inputs (per-user, per-key tables); raw-corpus global ranks are an
    anti-pattern at any engine.

    The cumulative offsets inline as a literal map (2 expressions per
    range partition — cheapest through thousands of partitions) and
    ride a broadcast join on the partition id above
    :data:`OFFSET_JOIN_THRESHOLD` partitions (plan stays O(1) in
    partition count — the 100k+ partition shape). Both paths are
    value-identical (pinned by
    ``test_global_rank_auto_threshold_switches``).
    """
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    s = (
        df.repartitionByRange(n_parts, *order)
        .sortWithinPartitions(*order)
        .withColumn(_MONO, F.monotonically_increasing_id())
        .localCheckpoint()
    )
    pid = F.shiftright(F.col(_MONO), 33).alias("__pid")
    counts = sorted(
        (r["__pid"], r["__cnt"])
        for r in s.groupBy(pid).agg(F.count("*").alias("__cnt")).collect()
    )
    offsets: list[tuple[int, tuple[int, ...]]] = []
    total = 0
    for p, c in counts:
        offsets.append((int(p), (total,)))
        total += c
    s, (offset,) = _offset_expr_or_join(
        s, F.shiftright(F.col(_MONO), 33), offsets, 1
    )
    local = F.col(_MONO).bitwiseAND(F.lit(_LOW33))
    return (
        s.withColumn(rank_col, (offset + local + 1).cast("long")).drop(
            _MONO, "__fx_opid__", "__fx_off_0__"
        ),
        total,
    )


def global_cumsum(
    df: DataFrame,
    order: list[Column],
    value_cols: list[str],
    num_partitions: int | None = None,
    prefix: str = "cum_",
) -> DataFrame:
    """Exact running ``SUM(v) OVER (ORDER BY order ROWS UNBOUNDED
    PRECEDING)`` for each of ``value_cols`` — without the
    single-reducer window, by the same recipe as :func:`global_rank`:

    1. range-repartition on ``order`` (distributed sort, sampled
       balanced boundaries);
    2. ``localCheckpoint`` barrier so the per-partition totals job and
       the cumsum job see the SAME partitioning;
    3. one metadata-sized aggregate — per-partition totals (at most
       ``#partitions × #cols`` longs reach the driver);
    4. per-partition local running sum (a window PARTITIONED by the
       range-partition id — every partition evaluates in parallel)
       plus the broadcast cumulative offset of the partitions before.

    ``order`` must be a total order for row-level determinism (for
    value-grouped inputs the group key itself suffices). Sums are
    computed in int64 — callers with 100 TB-scale magnitudes should
    pre-quantize so per-partition totals stay in range.

    Offsets attach as in :func:`global_rank`; above the threshold the
    join carries ALL per-column offsets in ONE broadcast row set
    (#partitions rows × #cols), so the consumer plan stays O(#cols),
    not O(#partitions × #cols) literal-map entries."""
    from pyspark.sql import Window

    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    s = (
        df.repartitionByRange(n_parts, *order)
        .sortWithinPartitions(*order)
        .localCheckpoint()
        .withColumn("__fx_pid__", F.spark_partition_id())
    )
    totals = sorted(
        (r["__fx_pid__"], tuple(r[f"__t_{c}"] for c in value_cols))
        for r in s.groupBy("__fx_pid__")
        .agg(*[F.sum(c).alias(f"__t_{c}") for c in value_cols])
        .collect()
    )
    offsets: list[tuple[int, tuple[int, ...]]] = []
    runs = [0] * len(value_cols)
    for p, tot in totals:
        offsets.append((int(p), tuple(runs)))
        for ci in range(len(value_cols)):
            runs[ci] += int(tot[ci] or 0)
    s, offset_exprs = _offset_expr_or_join(
        s, F.col("__fx_pid__"), offsets, len(value_cols)
    )
    w = (
        Window.partitionBy("__fx_pid__")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = s
    for ci, c in enumerate(value_cols):
        out = out.withColumn(
            f"{prefix}{c}", (offset_exprs[ci] + F.sum(c).over(w)).cast("long")
        )
    return out.drop(
        "__fx_pid__",
        "__fx_opid__",
        *[f"__fx_off_{ci}__" for ci in range(len(value_cols))],
    )


def _iceil(r: Column, m: int) -> Column:
    """Exact ``ceil(r / m)`` for positive int64 ``r`` and positive int
    ``m`` — computed as ``floor((r-1)/m) + 1`` over decimal(19,0)
    operands. The decimal quotient carries scale 19, so the floor is
    bit-exact for every int64 input; a double quotient misrounds
    bucket boundaries once ranks pass 2^53."""
    num = (r - F.lit(1)).cast("decimal(19,0)")
    return (F.floor(num / F.lit(int(m)).cast("decimal(19,0)")) + F.lit(1)).cast(
        "long"
    )


def ntile_from_rank(rank: Column, n: int, k: int) -> Column:
    """ANSI NTILE(k) bucket for 1-based global ``rank`` over ``n``
    rows: the first ``n mod k`` buckets hold ``n div k + 1`` rows."""
    if k < 1:
        # k=0 would die as a bare ZeroDivisionError below; a negative
        # k would sail through divmod's floor semantics into silently
        # wrong bucket ids
        raise ValueError(f"ntile bucket count must be >= 1, got {k}")
    q, rem = divmod(n, k)
    pivot = rem * (q + 1)
    if q == 0:  # fewer rows than buckets: bucket i gets row i
        return rank.cast("int")
    big = _iceil(rank, q + 1)
    small = F.lit(rem) + _iceil(rank - F.lit(pivot), q)
    return F.when(rank <= pivot, big).otherwise(small).cast("int")


def global_ntile(
    df: DataFrame,
    k: int,
    order: list[Column],
    ntile_col: str = "ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``NTILE(k) OVER (ORDER BY order)`` without the
    single-reducer window — bit-identical to the window form for a
    total ``order``."""
    ranked, total = global_rank(df, order, rank_col="__fx_rank__", num_partitions=num_partitions)
    return ranked.withColumn(
        ntile_col, ntile_from_rank(F.col("__fx_rank__"), total, k)
    ).drop("__fx_rank__")
