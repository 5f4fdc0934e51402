"""Similarity search over embedding columns (ArrayType(FloatType)).

Baseline: brute-force cosine top-k (the query side is broadcast — the
corpus side never shuffles). Scale paths: deterministic random-
hyperplane LSH bucketing and IVF/PQ inverted lists, so candidate
generation is an equi-join on a bucket or list key instead of a cross
join.

Vectors quantize to int64, so every dot product and norm is exact and
results reproduce bitwise across engines. Where a whole corpus batch
meets a small driver-held table (brute-force top-k, IVF assignment,
Lloyd training, PQ encoding) the scoring is one Arrow-batched numpy
matmul; elsewhere dot products are ``zip_with`` + ``aggregate``
expressions (JVM codegen). Rounding to 6 dp stays in Spark or uses the
exact ``F.round`` twins, so both kinds agree bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .util import spread

__all__ = [
    "cosine_topk",
    "cosine_range_search",
    "plane_sign",
    "plane_signs",
    "hyperplane_lsh_buckets",
    "lsh_cosine_topk",
    "knn_graph",
    "ivf_assign",
    "kmeans_train",
    "kmeans_train_rows",
    "ivf_cosine_topk",
    "mmr_rerank",
    "pq_train",
    "pq_encode",
    "pq_cosine_topk",
    "ivfpq_topk",
    "PQStore",
    "signed_projection",
    "rp_topk",
    "gram_matrix",
    "power_iteration_top",
    "pca_project",
]


def _quantized(vec: Column, scale: int) -> Column:
    return F.transform(vec, lambda x: F.round(x.cast("double") * scale).cast("long"))


def _quantized_guarded(vec: Column, scale: int) -> Column:
    """Quantizer with the NaN/NULL-component guard FUSED into the same
    array pass (r18, recovering the r17 ``_finite_vectors`` cost — the
    separate ``exists()`` pre-filter was a second interpreted traversal
    of every corpus vector): a NaN or NULL component maps to a NULL
    element instead of dying at the ANSI long cast, the NULL then
    propagates through the dot product to a NULL norm, and the
    call-site ``n2 > 0`` filter excludes the row — the exact same rows
    :func:`_finite_vectors` excluded, in zero extra passes. A NULL
    vector likewise quantizes to NULL → NULL norm → excluded.
    Components that are finite but un-castable (±Inf, > long range)
    still die at the ANSI cast exactly as before — this fuses the
    guard, it does not widen it."""
    return F.transform(
        vec,
        lambda x: F.when(
            ~(x.isNull() | F.isnan(x.cast("double"))),
            F.round(x.cast("double") * scale).cast("long"),
        ),
    )


def _dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def _finite_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Exclude NULL vectors and vectors with NULL/NaN components from
    the expression-path scorers (r17 self-review, completing the r16
    NaN hardening that covered the numpy paths): a NaN component dies
    at the ANSI long cast inside the quantizer BEFORE any downstream
    filter could drop the row, so one poisoned vector killed the whole
    scan. Zero-NORM vectors are excluded separately by the ``n2 > 0``
    filters at the call sites (cosine is undefined for the zero
    vector, and the 0/0 double division is a task-killing
    DIVIDE_BY_ZERO under ANSI mode)."""
    v = F.col(vec_col)
    return df.filter(
        v.isNotNull() & ~F.exists(v, lambda x: x.isNull() | F.isnan(x.cast("double")))
    )


def _pair_key(col: str) -> Column:
    """Single-valued non-foldable join key so corpus × broadcast-queries
    runs as a broadcast HASH join rather than a nested-loop node — the
    pairing of the expression scorers (:func:`cosine_range_search`,
    :func:`rp_topk`); the numpy kernels pair nothing.

    ``pmod(xxhash64(id), 1)`` is always 0, never NULL (xxhash64 hashes
    a NULL input to the seed — so NULL-id rows still pair; the old
    ``length(cast(id as string)) * 0`` was NULL for NULL ids and
    silently dropped those rows from the join), and Catalyst cannot
    constant-fold it (a coalesce/* 0 form gets simplified to a literal
    once the input is provably non-null, which collapses the equi-key
    and degrades the join to BroadcastNestedLoopJoin)."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(1))


def _arrow_quantized(vecs, quantize: int, dim: int | None = None, keep_zero: bool = False):
    """(kept row indices, quantized int64 matrix, squared norms) of an
    Arrow list column of embeddings — the one row filter and quantizer
    of every numpy stage (:func:`cosine_topk`, :func:`ivf_assign`, the
    Lloyd and PQ trainers, :func:`pq_encode`, SemDeDup's per-cluster
    stage). A row with no int64 quantization is dropped: a NULL or
    empty vector, or a NULL, NaN or infinite component. A zero-norm row
    is dropped too (it has no cosine), unless ``keep_zero`` — PQ's L2
    is defined for the zero vector, so the PQ stages keep it. The
    expression scorers drop the same rows through ``_finite_vectors`` /
    ``_quantized_guarded`` and ``n2 > 0``. ``dim`` fixes the width
    (default: the first non-empty vector's); a vector of another length
    raises ValueError, since a ragged matrix has no matmul."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(vecs, pa.ChunkedArray):
        vecs = vecs.combine_chunks()
    lens = pc.list_value_length(vecs).fill_null(0).to_numpy(zero_copy_only=False)
    rows = np.nonzero(lens)[0]
    widths = lens[rows]
    if dim is None:
        dim = int(widths[0]) if len(widths) else 0
    bad = widths[widths != dim]
    if len(bad):
        raise ValueError(f"embedding length {int(bad[0])} differs from the dimension {dim}")
    # flatten() skips NULL lists and honours the batch slice; NULL
    # components come out as NaN
    m = np.asarray(vecs.flatten().to_numpy(zero_copy_only=False), dtype=np.float64)
    m = m.reshape(len(rows), dim)
    ok = np.isfinite(m).all(axis=1)
    Q = _np_quant(m[ok], quantize)
    n2 = (Q * Q).sum(axis=1)
    nz = slice(None) if keep_zero else n2 > 0
    return rows[ok][nz], Q[nz], n2[nz]


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    quantize: int = 1_000_000,
) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest
    corpus vectors (excluding itself when ids collide, NULL ids
    included — ``eqNullSafe`` semantics). Returns (q_id, c_id, cosine,
    rank) with ids in their own Spark types; the per-query order is
    (cosine desc, c_id asc).

    The queries are collected to the driver as Arrow and broadcast once
    as an int64 matrix. Each corpus Arrow batch is scored against every
    query by ONE numpy ``(batch × dim) @ (dim × n_queries)`` int64
    matmul, and only rows at-or-near the batch's per-query k-th score
    leave Python (tie-safe cut — see the comment in ``block``). The
    kernel emits the exact integer dot and norms; the 6-dp rounding and
    the ranking window run in Spark, so the scores are bit-identical to
    the all-expression recipe and its DuckDB oracle (quantization is
    ``F.round``'s half-up twin, :func:`_np_quant`). Ids never become
    numpy: they ride as Arrow columns selected by the kernel's row
    indices, and self-pairs are found by Arrow set lookup.

    NULL vectors, NULL/NaN/infinite components and zero-norm vectors
    are excluded on both sides (they have no cosine).

    Scale shape: the corpus never shuffles and nothing joins — map-side
    scoring plus a local top-k, then the per-query window ranks only
    ``≈ batches × k`` (plus round-ties) candidates per query. The query
    side must fit on the driver."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    query_id_col = query_id_col or id_col
    qt = queries.select(F.col(query_id_col), F.col(vec_col)).toArrow()
    q_rows, qm, q_n2 = _arrow_quantized(qt.column(1), quantize)
    q_ids = qt.column(0).combine_chunks().take(q_rows)
    # self-exclusion: query column j is excluded for the corpus rows
    # whose id is keys[q_key[j]] (set lookup matches NULL to NULL)
    keys = pc.unique(q_ids)
    q_key = pc.index_in(q_ids, value_set=keys).to_numpy(zero_copy_only=False)
    dim = qm.shape[1]
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids, keys, q_key, qm.T.copy(), q_n2))

    def block(batches):
        b_qids, b_keys, b_qkey, b_qt, b_qn2 = bc.value
        for batch in batches:
            if not len(b_qids):
                continue
            rows, cm, c_n2 = _arrow_quantized(batch.column(1), quantize, dim)
            if not len(rows):
                continue
            c_ids = batch.column(0).take(rows)
            dots = cm @ b_qt  # (batch, nq) int64 — exact
            raw = dots / np.sqrt(c_n2[:, None].astype(np.float64) * b_qn2[None, :])
            c_key = pc.index_in(c_ids, value_set=b_keys.cast(c_ids.type)).fill_null(-1)
            np.putmask(
                raw, c_key.to_numpy(zero_copy_only=False)[:, None] == b_qkey[None, :], -np.inf
            )
            # Batch-local preselection must never clip a candidate the
            # global (rounded-cosine desc, c_id asc) rank could keep.
            # Keep every row whose raw score is within 2e-6 of the
            # per-query k-th largest: two scores that round equal at
            # 6 dp differ by < 1e-6, so any candidate below that cut
            # is strictly out-ranked by ≥ k batch-mates after rounding
            # — regardless of c_id ties. (A fixed +N slack can clip
            # the lowest-c_id members of a large tie group, e.g. many
            # exact-duplicate embeddings in one Arrow batch.)
            nb = len(rows)
            if nb > k:
                kth = np.partition(raw, nb - k, axis=0)[nb - k]
                mask = raw >= (kth - 2e-6)
            else:
                mask = np.ones_like(raw, dtype=bool)
            mask &= raw != -np.inf  # self-pairs never leave the batch
            ii, jj = np.nonzero(mask)
            yield pa.RecordBatch.from_arrays(
                [
                    b_qids.take(jj),
                    c_ids.take(ii),
                    pa.array(dots[ii, jj]),
                    pa.array(c_n2[ii]),
                    pa.array(b_qn2[jj]),
                ],
                ["q_id", "c_id", "dot", "c_n2", "q_n2"],
            )

    schema = T.StructType(
        [
            T.StructField("q_id", queries.schema[query_id_col].dataType),
            T.StructField("c_id", corpus.schema[id_col].dataType),
            T.StructField("dot", T.LongType()),
            T.StructField("c_n2", T.LongType()),
            T.StructField("q_n2", T.LongType()),
        ]
    )
    scored = corpus.select(F.col(id_col), F.col(vec_col)).mapInArrow(block, schema).select(
        "q_id",
        "c_id",
        F.round(
            F.col("dot") / F.sqrt(F.col("c_n2").cast("double") * F.col("q_n2").cast("double")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    quantize: int = 1_000_000,
    exclude_self: bool = True,
) -> DataFrame:
    """Cosine RANGE search: every corpus vector within ``threshold``
    of each query — the radius-query complement of :func:`cosine_topk`
    (recall-critical jobs want "everything at least this similar", not
    a fixed k: decontamination sweeps, near-dup audits, RAG retrieval
    cutoffs).

    ``exclude_self`` (default True, the self-search contract) drops
    pairs where the corpus id equals the query id. Set it False when
    corpus and queries are INDEPENDENT tables whose id spaces may
    collide — e.g. decontamination, where a zero-based benchmark id
    colliding with a zero-based corpus id must still be probed.

    Scale shape: the broadcast-hash join against the (small) query
    side plus a per-row threshold filter is MAP-ONLY: no window, no
    shuffle, nothing ranked, so the corpus scan parallelizes perfectly
    and output size is bounded by how much actually matches. Dots and
    norms are exact int64, so results reproduce bitwise on any
    engine."""
    query_id_col = query_id_col or id_col
    cvec = _quantized_guarded(F.col(vec_col), quantize)
    # NULL/NaN/zero-norm exclusion: the guard is fused into the quantize
    # pass (r18), poisoned components become NULL elements and the
    # n2 > 0 filter excludes the row
    c = (
        spread(corpus)
        .select(F.col(id_col).alias("c_id"), cvec.alias("c_vec"))
        .withColumn("c_n2", _dot(F.col("c_vec"), F.col("c_vec")))
        .filter(F.col("c_n2") > 0)
        .withColumn("__one", _pair_key("c_id"))
    )
    q = (
        queries.select(F.col(query_id_col).alias("q_id"), cvec.alias("q_vec"))
        .withColumn("q_n2", _dot(F.col("q_vec"), F.col("q_vec")))
        .filter(F.col("q_n2") > 0)
        .withColumn("__one", _pair_key("q_id"))
    )
    joined = c.join(F.broadcast(q), "__one")
    if exclude_self:
        joined = joined.filter(~F.col("c_id").eqNullSafe(F.col("q_id")))
    return (
        joined
        .select(
            "q_id",
            "c_id",
            F.round(
                _dot(F.col("c_vec"), F.col("q_vec"))
                / F.sqrt(F.col("c_n2").cast("double") * F.col("q_n2").cast("double")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _cosine(a: Column, b: Column, a_n2: Column, b_n2: Column) -> Column:
    """6-dp rounded cosine from precomputed squared norms — NULL when
    either norm is 0 (or NULL): cosine is undefined there, and under
    ANSI mode the bare 0/0 double division is TASK-KILLING, not NaN.
    The division sits INSIDE the when() branch (a mere conjunct guard
    beside a shared subexpression still divides — subexpression
    elimination force-evaluates it; see features.standardize). Entry
    points additionally EXCLUDE zero-norm rows where the family
    contract says so; this guard is the backstop for scorers whose
    norms are computed mid-plan (e.g. rp_topk's projected norms, which
    can be 0 for a nonzero vector when the signed projection
    cancels)."""
    return F.when(
        (a_n2 > 0) & (b_n2 > 0),
        F.round(
            _dot(a, b) / F.sqrt(a_n2.cast("double") * b_n2.cast("double")), 6
        ),
    )


def signed_projection(
    vec: Column, out_dim: int = 16, quantize: int = 10_000
) -> Column:
    """Signed (Rademacher ±1) random projection to ``out_dim`` integer
    components — the Johnson-Lindenstrauss / Achlioptas (2003)
    database-friendly projection, the standard way to shrink an
    embedding before distance work at corpus scale.

    The sign matrix is derived per (i, j) from a fixed modular mix
    (``((i·2654435761 + j·40499) mod 1000003) mod 2``), so no matrix
    is stored, broadcast, or collected — any engine rebuilds the
    identical projection from the formula (the oracle does). Inputs
    quantize to int64 at ``quantize`` (1e4 keeps every downstream
    16-dim dot ≤ ~1.6e12, inside exact-double range), so projected
    vectors and their dot products are exact integers — bit-identical
    across engines and partitionings. Map-only: one expression per
    row, no shuffle, no state."""
    v = _quantized(vec, quantize)
    return F.transform(
        F.sequence(F.lit(1), F.lit(out_dim)),
        lambda j: F.aggregate(
            F.transform(
                v,
                lambda x, i0: x
                * F.when(
                    ((i0 + 1) * F.lit(2654435761) + j * F.lit(40499))
                    % F.lit(1000003)
                    % 2
                    == 0,
                    F.lit(1).cast("long"),
                ).otherwise(F.lit(-1).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def rp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    out_dim: int = 16,
    oversample: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    quantize: int = 1_000_000,
) -> DataFrame:
    """Random-projection-accelerated cosine top-k: candidates are
    ranked in the ``out_dim``-dimensional projected space (dots cost
    ``out_dim/dim`` of the full-width ones), the per-query top
    ``k·oversample`` survivors are re-ranked by the exact full-width
    integer-cosine recipe, and the final top-k is emitted in
    :func:`cosine_topk`'s (q_id, c_id, cosine, rank) contract.

    Both stages are deterministic (projection and candidate ranking
    are exact int64 with (score desc, id asc) tie-breaks), so the
    whole approximate pipeline — including which candidates survive —
    is oracle-able, same as the LSH/IVF families.

    Scale shape: projection is a map-only pass over the corpus; the
    query side (projected + full-width) broadcasts; candidate scoring
    touches ``out_dim``-wide vectors only, and the full-width vectors
    are re-read for just ``k·oversample`` rows per query. The
    per-query ranking window has the same shape as cosine_topk —
    compose with the LSH/IVF candidate structures when the query side
    grows."""
    query_id_col = query_id_col or id_col
    proj = signed_projection(F.col(vec_col), out_dim)
    full = _quantized(F.col(vec_col), quantize)

    # NULL/NaN-component vectors excluded (NaN dies at the quantizer's
    # ANSI long cast before any filter could drop it) and zero-NORM
    # vectors excluded (cosine undefined) — the exact family's
    # contract, uniform across the approximate ops (r17 self-review).
    # A nonzero vector whose signed PROJECTION cancels to zero norm
    # stays: its projected score is NULL (ranks last among candidates),
    # and the exact rescore uses the real full-width cosine.
    def side(df: DataFrame, idc: str, tag: str) -> DataFrame:
        return (
            _finite_vectors(df, vec_col)
            .select(
                F.col(idc).alias(f"{tag}_id"),
                proj.alias(f"{tag}_p"),
                full.alias(f"{tag}_vec"),
            )
            .withColumn(f"{tag}_pn2", _dot(F.col(f"{tag}_p"), F.col(f"{tag}_p")))
            .withColumn(f"{tag}_n2", _dot(F.col(f"{tag}_vec"), F.col(f"{tag}_vec")))
            .filter(F.col(f"{tag}_n2") > 0)
            .withColumn("__one", _pair_key(f"{tag}_id"))
        )

    c = side(spread(corpus), id_col, "c")
    q = side(queries, query_id_col, "q")
    # the candidate-ranking window carries ONLY (q_id, c_id, __pcos) —
    # previously the full-width c_vec/q_vec rode through the shuffle
    # for EVERY corpus × query pair (~dim/out_dim times wider than
    # needed, 48× at dim=768/out_dim=16), contradicting the "re-read
    # full vectors for k·oversample rows only" claim (r16 self-review).
    # The survivors join back for the exact re-score: the kept-id set
    # is queries × k·oversample rows — broadcast — so the second
    # corpus scan is map-only with no shuffle.
    cand = (
        c.select("c_id", "c_p", "c_pn2", "__one")
        .join(F.broadcast(q.select("q_id", "q_p", "q_pn2", "__one")), "__one")
        .filter(~F.col("c_id").eqNullSafe(F.col("q_id")))
        .select(
            "q_id",
            "c_id",
            _cosine(
                F.col("c_p"), F.col("q_p"), F.col("c_pn2"), F.col("q_pn2")
            ).alias("__pcos"),
        )
    )
    cw = Window.partitionBy("q_id").orderBy(F.col("__pcos").desc(), F.col("c_id").asc())
    kept_ids = (
        cand.withColumn("__crank", F.row_number().over(cw))
        .filter(F.col("__crank") <= k * oversample)
        .select("q_id", "c_id")
    )
    kc = c.select(F.col("c_id").alias("__kcid"), "c_vec", "c_n2")
    kq = q.select(F.col("q_id").alias("__kqid"), "q_vec", "q_n2")
    # eqNullSafe join keys: _pair_key deliberately keeps NULL-id rows
    # pairing, so the rescore joins must not drop them
    kept = (
        F.broadcast(kept_ids)
        .join(kc, F.col("c_id").eqNullSafe(F.col("__kcid")))
        .join(F.broadcast(kq), F.col("q_id").eqNullSafe(F.col("__kqid")))
        .select(
            "q_id",
            "c_id",
            _cosine(
                F.col("c_vec"), F.col("q_vec"), F.col("c_n2"), F.col("q_n2")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return kept.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _require_integral_id(df: DataFrame, col: str) -> None:
    """Refuse a non-integral id column up front. The numpy stages carry
    seed and centroid ids (and SemDeDup's ``a_id < b_id`` order) as
    int64 numpy arrays, where a string id would die deep in an executor
    with an opaque cast error."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = df.schema[col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(f"id column {col!r} must be integral, got {dt.simpleString()}")


def _round_half_up(p: float) -> int:
    """EXACT Python twin of Spark's ``F.round(double)``: Spark rounds
    through ``BigDecimal.valueOf(d)`` = ``new BigDecimal(
    Double.toString(d))`` with HALF_UP — i.e. HALF_UP on the SHORTEST
    DECIMAL REPR of the double, not on its full binary expansion.
    Python's ``repr(float)`` is the same shortest round-trip decimal,
    so ``Decimal(repr(p))`` sees the identical digits. (A naive
    ``floor(p + 0.5)`` differs on values like 0.49999999999999994
    where the binary ``+0.5`` rounds up.)"""
    import decimal

    return int(
        decimal.Decimal(repr(p)).quantize(
            decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
        )
    )


def _np_quant(m, quantize: int):
    """Vectorized EXACT twin of ``_quantized`` (``F.round`` on the
    double product = decimal HALF_UP over the double's shortest repr).
    The vectorized half-away-from-zero form is used for every element
    whose scaled value sits further than 1e-6 from a .5 boundary —
    there the two rules provably agree (repr error < half-ULP ≈ 1e-10
    at this magnitude, binary ``+0.5`` error likewise) — and the rare
    near-tie elements go through :func:`_round_half_up` so repr-tie
    values (the 0.49999999999999994 class) match ``_quantized`` and the
    SQL oracles bit-for-bit."""
    import numpy as np

    s = m.astype(np.float64) * quantize
    naive = np.where(s >= 0, np.floor(s + 0.5), np.ceil(s - 0.5))
    frac = np.abs(s - np.trunc(s))
    near = np.abs(frac - 0.5) < 1e-6
    if near.any():
        flat_s = s.ravel()
        flat_n = naive.ravel()
        for i in np.nonzero(near.ravel())[0].tolist():
            flat_n[i] = _round_half_up(float(flat_s[i]))
        naive = flat_n.reshape(s.shape)
    return naive.astype(np.int64)


def _np_round6(a):
    """Vectorized EXACT twin of Spark's ``F.round(x, 6)``: decimal
    HALF_UP over the double's shortest repr (``np.round`` is
    half-to-even and WOULD diverge on 6-dp ties — w_cume_percent
    history). Cost is one Decimal op per element; callers only apply it
    to (rows × k) assignment matrices, never to pairwise blocks."""
    import decimal

    import numpy as np

    six = decimal.Decimal("0.000001")
    flat = a.ravel()
    out = np.empty(flat.shape, dtype=np.float64)
    for i, x in enumerate(flat.tolist()):
        out[i] = float(
            decimal.Decimal(repr(x)).quantize(six, rounding=decimal.ROUND_HALF_UP)
        )
    return out.reshape(a.shape)


def _np_assign(Q, n2, C, cn2, cids, n_probe: int = 1):
    """The ``n_probe`` nearest centroid ids per row of a quantized
    batch, shape (rows, min(n_probe, k)): exact int64 dot matmul, IEEE
    double cosine, 6-dp decimal rounding, then a STABLE descending
    argsort — ``cids`` is ascending, so equal rounded cosines keep the
    lower id first, which is the (cos desc, cid asc) tie-break. Every
    norm must be nonzero (callers drop zero-norm rows, and
    :func:`_prep_centroids` zero-norm centroids): a 0/0 NaN would sort
    first."""
    import numpy as np

    dots = Q @ C.T
    raw = dots / np.sqrt(n2[:, None].astype(np.float64) * cn2[None, :].astype(np.float64))
    cos = _np_round6(raw)
    return cids[np.argsort(-cos, axis=1, kind="stable")[:, :n_probe]]


def _prep_centroids(centroid_rows: list[tuple[int, list[float]]], quantize: int):
    """(ascending cids, quantized k×dim int64 matrix, k norms) — the
    driver-held form every numpy stage broadcasts. Quantization uses
    :func:`_round_half_up` (bit-exact ``F.round`` parity). A centroid
    with no cosine is dropped: a NULL vector, a NULL/NaN component, or
    a zero norm. With none left the table is empty and the stages
    assign nothing."""
    import math

    import numpy as np

    kept = []
    for cid, cvec in sorted(centroid_rows):
        if cvec is None or not all(x is not None and math.isfinite(x) for x in cvec):
            continue
        q = [_round_half_up(float(x) * quantize) for x in cvec]
        if any(q):
            kept.append((cid, q))
    cids = np.asarray([cid for cid, _ in kept], dtype=np.int64)
    if not kept:
        return cids, cids.reshape(0, 0), cids
    C = np.asarray([q for _, q in kept], dtype=np.int64)
    return cids, C, (C * C).sum(axis=1)


def _seed(corpus: DataFrame, n: int, id_col: str) -> DataFrame:
    """The ``n`` lowest-id rows (NULL ids skipped): the Lloyd trainers'
    seed and the default IVF quantizer."""
    return corpus.where(F.col(id_col).isNotNull()).orderBy(F.col(id_col).asc()).limit(n)


def _member_sums(a, Q):
    """The partial sums one Lloyd iteration folds, from a quantized
    batch ``Q`` and each row's assignment ``a``: one row per
    (assignment, component) — (assignment, component index, int64
    component sum over its members, member count). Integer partials
    are associative, so the folded means do not depend on batching."""
    import numpy as np

    order = np.argsort(a, kind="stable")
    cl, starts, cnt = np.unique(a[order], return_index=True, return_counts=True)
    sums = np.add.reduceat(Q[order], starts, axis=0)
    d = Q.shape[1]
    return (
        np.repeat(cl, d),
        np.tile(np.arange(d, dtype=np.int64), len(cl)),
        sums.ravel(),
        np.repeat(cnt.astype(np.int64), d),
    )


def kmeans_train_rows(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd iterations for IVF centroid training with
    the centroid table held on the DRIVER (k×dim floats — exactly what
    FAISS keeps in RAM for its coarse quantizer). Seed = the k
    lowest-id vectors; each iteration is ONE Spark job: an
    Arrow-batched numpy stage assigns each batch to its nearest
    centroid by cosine (exact int64 matmul + 6-dp decimal-rounded
    cosine — see :func:`_np_assign`) and emits per-partition
    (centroid, dim) PARTIAL integer sums; one tiny aggregate folds the
    partials, one rounded division per component produces the means,
    and only the k×dim result rows come back to the driver. Partial
    int64 sums are associative, so centroids are independent of
    partitioning and reproducible bit-for-bit — a DuckDB oracle
    re-derives identical centroids. Empty clusters drop (standard
    Lloyd behavior), and so does a zero-norm seed, which has no cosine
    to anything; zero-norm vectors join no cluster.

    Returns [(centroid id, components in the input's float domain)]
    sorted by id. The id column must be integral. Rows with a NULL id
    are skipped, and the stage reads vectors through
    :func:`_arrow_quantized`: a NULL vector or a NULL, NaN, infinite or
    zero-norm one joins no cluster."""
    import pyarrow as pa
    from pyspark.sql import types as T

    _require_integral_id(corpus, id_col)
    # NULL ids sort FIRST under asc() and would crash int(r[0]) on the
    # driver; a NULL or NaN seed has no centroid to train (an infinite
    # or zero-norm one keeps its slot and _prep_centroids drops it)
    corpus = corpus.where(F.col(id_col).isNotNull())
    seed = _seed(_finite_vectors(corpus, vec_col), k, id_col).select(id_col, vec_col).collect()
    cents = [(int(r[0]), [float(x) for x in r[1]]) for r in seed]
    spark = corpus.sparkSession
    # No spread(): per-row work here is one vectorized numpy matmul per
    # Arrow batch, so scattering a small input to every core buys
    # nothing while its repartition shuffle costs a fixed ~0.2 s per
    # job; at real scale parquet arrives in thousands of splits and
    # parallelism comes from the scan itself.
    base = corpus.select(vec_col)
    schema = T.StructType(
        [T.StructField(c, T.LongType()) for c in ("centroid_id", "dim", "val", "cnt")]
    )
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(_prep_centroids(cents, quantize))

        def partials(batches, _bc=bc):
            b_cids, b_C, b_cn2 = _bc.value
            for batch in batches:
                if not len(b_cids):
                    continue
                _, Q, n2 = _arrow_quantized(batch.column(0), quantize, b_C.shape[1])
                if not len(Q):
                    continue
                a = _np_assign(Q, n2, b_C, b_cn2, b_cids)[:, 0]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c) for c in _member_sums(a, Q)], schema.fieldNames()
                )

        rows = (
            base.mapInArrow(partials, schema)
            .groupBy("centroid_id", "dim")
            .agg(F.sum("val").alias("__s"), F.sum("cnt").alias("__c"))
            .select(
                "centroid_id",
                "dim",
                F.round(F.col("__s") / F.col("__c")).cast("long").alias("__cc"),
            )
            .collect()
        )
        by_cid: dict[int, list[tuple[int, int]]] = {}
        for r in rows:
            by_cid.setdefault(int(r["centroid_id"]), []).append(
                (int(r["dim"]), int(r["__cc"]))
            )
        # __cc / quantize: the same IEEE double division the SQL oracle
        # folds — values identical
        cents = [
            (cid, [cc / quantize for _, cc in sorted(comps)])
            for cid, comps in sorted(by_cid.items())
        ]
    return cents


def _centroid_rows(centroids: DataFrame, id_col: str, vec_col: str) -> list:
    """Collect a centroid frame (k rows) as ``[(cid, vec)]``; NULL ids
    are skipped. Centroid ids must be integral."""
    _require_integral_id(centroids, id_col)
    return [
        (int(r[0]), r[1])
        for r in centroids.where(F.col(id_col).isNotNull()).select(id_col, vec_col).collect()
    ]


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame | list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
    n_probe: int = 1,
    keep_vec: bool = False,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids by
    cosine (IVF coarse quantizer): one row (id, centroid_id) per
    vector and probe, with the deterministic (cosine desc, centroid id
    asc) tie-break (see :func:`_np_assign`).

    ``centroids`` is a frame of k rows (``id_col``, ``vec_col``),
    collected once, or the driver rows ``[(cid, vec)]`` themselves.
    Centroid ids must be integral. The table is broadcast and each
    corpus Arrow batch is assigned by one int64 matmul — map-only, no
    join, no aggregate. The corpus id keeps its own Spark type and a
    NULL id stays NULL. NULL vectors, NULL/NaN/infinite components and
    zero norms are excluded (no cosine). ``keep_vec=True`` carries the
    vector through for a downstream per-cluster stage."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(centroids, DataFrame):
        centroids = _centroid_rows(centroids, id_col, vec_col)
    bc = corpus.sparkSession.sparkContext.broadcast(_prep_centroids(centroids, quantize))
    src = corpus.select(F.col(id_col), F.col(vec_col))
    fields = [src.schema[0], T.StructField("centroid_id", T.LongType())]
    if keep_vec:
        fields.append(src.schema[1])

    def block(batches):
        b_cids, b_C, b_cn2 = bc.value
        for batch in batches:
            if not len(b_cids):
                continue
            rows, Q, n2 = _arrow_quantized(batch.column(1), quantize, b_C.shape[1])
            probes = _np_assign(Q, n2, b_C, b_cn2, b_cids, n_probe)
            take = np.repeat(rows, probes.shape[1])
            cols = [batch.column(0).take(take), pa.array(probes.ravel())]
            if keep_vec:
                cols.append(batch.column(1).take(take))
            yield pa.RecordBatch.from_arrays(cols, [f.name for f in fields])

    # no spread(): vectorized-matmul stage — see kmeans_train_rows
    return src.mapInArrow(block, T.StructType(fields))


def kmeans_train(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
) -> DataFrame:
    """:func:`kmeans_train_rows` as a DataFrame of (id_col long,
    vec_col array<double>) centroids, directly consumable by
    ivf_assign / ivf_cosine_topk."""
    rows = kmeans_train_rows(
        corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col, quantize=quantize
    )
    return corpus.sparkSession.createDataFrame(
        rows, f"{id_col} long, {vec_col} array<double>"
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: a deterministic coarse quantizer
    (centroids = the ``n_centroids`` lowest-id corpus vectors; swap in
    sampled/trained centroids at scale) partitions the corpus into
    inverted lists; each query probes its ``n_probe`` nearest lists and
    ranks exactly within them.

    Candidate generation is an equi-join on ``centroid_id`` — the
    100 TB path: cost scales with corpus/n_centroids × n_probe, not
    corpus × queries. Fully deterministic, so it oracle-checks. Pass
    ``centroids`` (e.g. from :func:`kmeans_train`) to override the
    seed quantizer."""
    # NULL/NaN/zero-norm exclusion at entry (family contract, r17
    # self-review) — also keeps a poisoned corpus head out of the
    # default centroid seed
    corpus = _finite_vectors(corpus, vec_col)
    queries = _finite_vectors(queries, vec_col)
    cents = _centroid_rows(
        _seed(corpus, n_centroids, id_col) if centroids is None else centroids, id_col, vec_col
    )
    c_assign = ivf_assign(corpus, cents, id_col, vec_col, n_probe=1).withColumnRenamed(
        id_col, "c_id"
    )
    q_assign = ivf_assign(queries, cents, id_col, vec_col, n_probe=n_probe).withColumnRenamed(
        id_col, "q_id"
    )
    cand = (
        c_assign.join(F.broadcast(q_assign), "centroid_id")
        .filter(~F.col("c_id").eqNullSafe(F.col("q_id")))
        .select("q_id", "c_id")
        .distinct()
    )

    cvec = corpus.select(
        F.col(id_col).alias("c_id"), _quantized(F.col(vec_col), 1_000_000).alias("c_vec")
    ).withColumn("c_n2", _dot(F.col("c_vec"), F.col("c_vec")))
    qvec = queries.select(
        F.col(id_col).alias("q_id"), _quantized(F.col(vec_col), 1_000_000).alias("q_vec")
    ).withColumn("q_n2", _dot(F.col("q_vec"), F.col("q_vec")))
    scored = (
        cand.join(cvec, "c_id")
        .join(F.broadcast(qvec), "q_id")
        .select(
            "q_id",
            "c_id",
            _cosine(
                F.col("c_vec"), F.col("q_vec"), F.col("c_n2"), F.col("q_n2")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    quantize: int = 1_000_000,
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998):
    per query, take the ``pool`` most-relevant candidates by cosine,
    then greedily select ``k`` maximizing
    ``lam * relevance(c) − (1−lam) * max_sim(c, already_selected)`` —
    the standard RAG-retrieval diversification that stops near-duplicate
    passages from crowding the context window.

    Determinism/oracle contract: relevance and candidate-candidate
    similarities are the 6-dp-rounded quantized cosines every other
    sim op uses; the MMR score combines them with two double
    multiplications (identical IEEE on any engine) and ties break on
    candidate id — so the greedy sequence is SQL-unrollable and
    bit-reproducible.

    Scale shape: stage 1 is :func:`cosine_topk` (corpus never
    shuffles); stage 2's pairwise similarity is pool × pool PER QUERY
    (an equi-join on q_id, never corpus-quadratic); the greedy loop
    runs k−1 fixed iterations of a tiny join + argmax aggregate on
    ≤ queries × pool rows. Returns (q_id, c_id, cosine, step) with
    step = 1-based selection order."""
    query_id_col = query_id_col or id_col
    # lazy barrier (r17): rel feeds THREE consumer chains — the step-1
    # seed, the per-iteration `remaining` anti-join, and the
    # pool-vector join below. Without it every greedy step re-executed
    # the whole corpus top-k scan (~5-6 full passes, measured 11 s vs
    # 5 s at sf0.1); after it the top-k pass runs ONCE and every
    # consumer reads the (queries x pool)-row checkpoint. Under AQE a
    # lazy checkpoint still runs every shuffle stage behind it inside
    # this call (AdaptiveSparkPlanExec.execute() builds the final plan;
    # only the last stage waits for an action), so each greedy step's
    # joins and aggregates run while the plan is built.
    rel = cosine_topk(
        corpus, queries, k=pool, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, quantize=quantize,
    ).select("q_id", "c_id", "cosine", "rank").localCheckpoint(eager=False)
    # pool-member vectors once; pairwise sims within each query's pool.
    # The pool-id semi join runs BEFORE the quantizer (r17): only the
    # <= queries x pool distinct pool members pay the per-component
    # quantize + dot, not the whole corpus (the ids broadcast off the
    # checkpointed rel). _finite_vectors still guards the join input —
    # pool members are clean by cosine_topk's contract, but the
    # contract lives in one place (r17 self-review: one NaN component
    # anywhere in a scanned row is an ANSI long-cast task killer).
    pool_ids = rel.select(F.col("c_id").alias("__id")).distinct()
    vecs = (
        _finite_vectors(corpus, vec_col)
        .select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__raw"))
        .join(F.broadcast(pool_ids), "__id")
        .select("__id", _quantized(F.col("__raw"), quantize).alias("__v"))
        .withColumn("__n2", _dot(F.col("__v"), F.col("__v")))
    )
    p = rel.join(vecs, rel.c_id == vecs.__id).select("q_id", "c_id", "__v", "__n2")
    a = p.select("q_id", F.col("c_id").alias("a_id"), F.col("__v").alias("__av"), F.col("__n2").alias("__an2"))
    b = p.select("q_id", F.col("c_id").alias("b_id"), F.col("__v").alias("__bv"), F.col("__n2").alias("__bn2"))
    sims = (
        a.join(b, "q_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "q_id", "a_id", "b_id",
            _cosine(F.col("__av"), F.col("__bv"), F.col("__an2"), F.col("__bn2")).alias("sim"),
        )
    )
    sims = sims.localCheckpoint(eager=False)
    lam_c, div_c = F.lit(float(lam)), F.lit(1.0 - float(lam))
    selected = rel.filter(F.col("rank") == 1).select(
        "q_id", "c_id", "cosine", F.lit(1).cast("long").alias("step")
    )
    rest = rel.filter(F.col("rank") > 1).select("q_id", "c_id", "cosine")
    sims2 = sims.select(
        "q_id", F.col("a_id").alias("c_id"), F.col("b_id").alias("s_id"), "sim"
    )
    for s in range(2, k + 1):
        # anti-join against the checkpointed picks so far, so each
        # step's plan stays one join deep over rel, whatever the step
        remaining = rest.join(
            selected.select("q_id", "c_id"), ["q_id", "c_id"], "left_anti"
        )
        msim = (
            remaining.select("q_id", "c_id")
            .join(selected.select("q_id", F.col("c_id").alias("s_id")), "q_id")
            .join(sims2, ["q_id", "c_id", "s_id"])
            .groupBy("q_id", "c_id")
            .agg(F.max("sim").alias("msim"))
        )
        scored = remaining.join(msim, ["q_id", "c_id"]).withColumn(
            "score", lam_c * F.col("cosine") - div_c * F.col("msim")
        )
        pick = scored.groupBy("q_id").agg(
            F.max_by(
                F.struct("c_id", "cosine"),
                F.struct(F.col("score"), (-F.col("c_id")).alias("__nc")),
            ).alias("__p")
        ).select(
            "q_id", F.col("__p.c_id").alias("c_id"), F.col("__p.cosine").alias("cosine"),
            F.lit(s).cast("long").alias("step"),
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=False)
    return selected


def plane_sign(plane: int, d: int) -> int:
    """±1 component d of hyperplane ``plane``: parity of the first hex
    nibble of md5(f"{plane}_{d}") — no RNG, identical in any engine
    that has md5 (the DuckDB oracle re-derives the same matrix)."""
    import hashlib

    nibble = int(hashlib.md5(f"{plane}_{d}".encode()).hexdigest()[0], 16)
    return 1 if nibble & 1 else -1


def plane_signs(n_tables: int, n_planes: int, dim: int) -> list[list[list[int]]]:
    """signs[table][plane] = ±1 vector of length ``dim``. Pure
    constants — computed once on the driver, inlined as literals."""
    return [
        [[plane_sign(t * n_planes + p, d) for d in range(dim)] for p in range(n_planes)]
        for t in range(n_tables)
    ]


def hyperplane_lsh_buckets(
    df: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
    n_tables: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Deterministic random-hyperplane LSH: bit i of a table's bucket
    id is the sign of ⟨v, r_i⟩ where r_i has ±1 components derived
    from md5(plane, dim) — no RNG, reproducible everywhere.

    With ``dim`` given, the ±1 matrices are precomputed on the driver
    and inlined as literal arrays, so each plane dot is a single
    ``zip_with``+``aggregate`` over constants (the md5 calls are per
    (plane, component) constants — never per row). Without ``dim``
    the same parities are derived in-expression (schema-agnostic
    fallback; identical buckets either way).

    With ``n_tables`` > 1 each vector gets one bucket per independent
    table (planes salted by table index) — standard multi-table recall
    amplification: neighbors are candidates if they collide in ANY
    table (P = 1-(1-p^planes)^tables). Returns (id, table, bucket).

    NULL embeddings are EXCLUDED (r16 self-review): with ``dim`` set a
    NULL vector made size() NULL, fell to the raise_error branch, and
    killed the job with a NULL (message-less) error; without ``dim``
    every plane dot went NULL and ALL null-vector rows funneled into
    bucket 0 of every table — an O(n_nulls²·tables) candidate blowup
    feeding NULL-cosine edges into knn_graph/lsh_cosine_topk.
    NaN-component vectors are excluded too (r17 self-review): the
    bucket quantizer's ANSI long cast killed the whole bucketing pass
    on the first NaN."""
    df = _finite_vectors(df, vec_col)
    q = _quantized(F.col(vec_col), quantize)
    if dim is not None:
        # Fail loudly on a dimension mismatch: with the inlined plane
        # matrices, a wrong ``dim`` makes zip_with pad with NULLs, every
        # plane dot goes NULL, and every vector lands in bucket 0 of
        # every table — the candidate join silently degenerates to a
        # full cross product. A per-row size check is one comparison.
        q = F.when(F.size(F.col(vec_col)) == dim, q).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"hyperplane_lsh_buckets: dim={dim} but {vec_col} has length "
                    ),
                    F.size(F.col(vec_col)).cast("string"),
                )
            )
        )
    vecs = spread(df).select(F.col(id_col), q.alias("__q"))

    if dim is not None:
        signs = plane_signs(n_tables, n_planes, dim)

        # expressions built as SQL strings: constructing 64 F.lit()
        # columns per plane × 32 planes costs thousands of py4j
        # round-trips (~8 s of DRIVER time before a single task runs);
        # one F.expr per plane is a single call
        def sign_component(t: int, p: int, bit: int) -> Column:
            lst = ",".join(f"{s}L" for s in signs[t][p])
            dot = (
                f"aggregate(zip_with(__q, array({lst}), (x, s) -> x * s), "
                "0L, (acc, x) -> acc + x)"
            )
            return F.expr(f"IF({dot} > 0, {1 << bit}L, 0L)")

    else:

        def sign_component(t: int, p: int, bit: int) -> Column:
            plane = t * n_planes + p
            # ±1 per (plane, dim): parity of the first md5 hex nibble
            signed = F.zip_with(
                F.col("__q"),
                F.sequence(F.lit(0), F.size(F.col("__q")) - 1),
                lambda x, d: F.when(
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws("_", F.lit(plane), d).cast("binary")), 1, 1
                        ),
                        16,
                        10,
                    )
                    .cast("int")
                    .bitwiseAND(F.lit(1))
                    == 1,
                    x,
                ).otherwise(-x),
            )
            dot = F.aggregate(signed, F.lit(0).cast("long"), lambda acc, x: acc + x)
            return F.when(dot > 0, F.lit(1 << bit).cast("long")).otherwise(
                F.lit(0).cast("long")
            )

    tables = []
    for t in range(n_tables):
        bucket = None
        for p in range(n_planes):
            c = sign_component(t, p, p)
            bucket = c if bucket is None else (bucket + c)
        tables.append(F.struct(F.lit(t).alias("table"), bucket.alias("bucket")))
    return vecs.select(F.col(id_col), F.explode(F.array(*tables)).alias("tb")).select(
        id_col, F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket")
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates = same LSH bucket in ANY table
    (equi-join on (table, bucket) — the 100 TB path), then exact
    cosine rank within candidates. Recall tunes up with more tables /
    fewer planes; candidate cost with the opposite."""
    cb = hyperplane_lsh_buckets(corpus, n_planes, id_col, vec_col, n_tables=n_tables, dim=dim).withColumnRenamed(id_col, "c_id")
    qb = hyperplane_lsh_buckets(queries, n_planes, id_col, vec_col, n_tables=n_tables, dim=dim).withColumnRenamed(id_col, "q_id")
    cand = (
        cb.join(qb, ["table", "bucket"])
        .filter(~F.col("c_id").eqNullSafe(F.col("q_id")))
        .select("q_id", "c_id")
        .distinct()
    )

    # norms precomputed ONCE per vector (the sibling ops' shared
    # _cosine shape): the inline form re-ran both O(dim) norm
    # aggregates for EVERY candidate pair — a corpus vector in p query
    # candidate sets paid its norm p times (r16 self-review)
    # _finite_vectors + n2 > 0: the family's exclusion contract (r17
    # self-review) — NaN killed the quantizer cast, zero-norm the
    # cosine division
    cvec = (
        _finite_vectors(corpus, vec_col)
        .select(
            F.col(id_col).alias("c_id"),
            _quantized(F.col(vec_col), 1_000_000).alias("c_vec"),
        )
        .withColumn("c_n2", _dot(F.col("c_vec"), F.col("c_vec")))
        .filter(F.col("c_n2") > 0)
    )
    qvec = (
        _finite_vectors(queries, vec_col)
        .select(
            F.col(id_col).alias("q_id"),
            _quantized(F.col(vec_col), 1_000_000).alias("q_vec"),
        )
        .withColumn("q_n2", _dot(F.col("q_vec"), F.col("q_vec")))
        .filter(F.col("q_n2") > 0)
    )
    scored = (
        cand.join(cvec, "c_id")
        .join(F.broadcast(qvec), "q_id")
        .select(
            "q_id",
            "c_id",
            _cosine(
                F.col("c_vec"), F.col("q_vec"), F.col("c_n2"), F.col("q_n2")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def knn_graph(
    corpus: DataFrame,
    k: int = 3,
    n_planes: int = 6,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    quantize: int = 1_000_000,
    mutual: bool = False,
) -> DataFrame:
    """Approximate k-NN GRAPH: every corpus vector gets edges to its k
    most-cosine-similar LSH-candidate neighbors — the all-nodes-are-
    queries companion to :func:`lsh_cosine_topk` (which broadcasts a
    small query side and therefore cannot express a graph over the
    whole corpus). kNN graphs feed SemDeDup-style clustering, label
    propagation over embedding neighborhoods, and graph-based ANN
    indexes.

    Scale shape: NOTHING broadcasts — candidates come from the bucket
    SELF-join on (table, bucket) (same shape as the MinHash banded
    join: only same-bucket vectors pair up), exact integer cosine is
    computed on candidates only via two keyed joins back to the
    vectors, and the final rank is a window PARTITIONED by source node
    (never global). Deterministic md5-derived hyperplanes make the
    candidate set — and thus the whole "approximate" graph —
    reproducible on any engine, so it oracles exactly.

    Returns (src, dst, cosine, rank), rank 1..k per src; nodes whose
    buckets contain no other vector emit no edges (standard LSH recall
    contract — raise n_tables / lower n_planes for denser graphs).

    ``mutual=True`` keeps an edge only when BOTH endpoints rank each
    other in their top-k — the standard symmetrization that fragments
    the hub-dominated kNN digraph into meaningful neighborhoods before
    graph clustering. One extra self-semi-join on the edge key.

    Candidate scoring runs as an Arrow-batched numpy kernel (one
    ``einsum`` row-wise dot per batch instead of an interpreted
    per-element ``aggregate`` chain — the t_lm_score HOF lesson); the
    kernel emits ONLY the exact int64 dot, and the rounding/division
    stays a JVM expression, so it is bit-identical to the expression
    scorer (pinned in tests and by the shared oracle)."""
    b = hyperplane_lsh_buckets(
        corpus, n_planes, id_col, vec_col, quantize=quantize, n_tables=n_tables, dim=dim
    )
    cand = (
        b.withColumnRenamed(id_col, "src")
        .join(b.withColumnRenamed(id_col, "dst"), ["table", "bucket"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    # _finite_vectors + n2 > 0 (r17 self-review): one NaN component
    # anywhere in the corpus killed the scoring quantizer; a zero-norm
    # vector that shared a bucket killed the cosine division — such
    # nodes have no defined-cosine edges and drop from the graph
    vec = _finite_vectors(corpus, vec_col).select(
        F.col(id_col).alias("__id"), _quantized(F.col(vec_col), quantize).alias("__v")
    ).withColumn("__n2", _dot(F.col("__v"), F.col("__v"))).filter(F.col("__n2") > 0)
    s = vec.select(
        F.col("__id").alias("src"), F.col("__v").alias("s_v"), F.col("__n2").alias("s_n2")
    )
    d = vec.select(
        F.col("__id").alias("dst"), F.col("__v").alias("d_v"), F.col("__n2").alias("d_n2")
    )
    paired = cand.join(s, "src").join(d, "dst")
    out_schema = paired.select("src", "dst", "s_n2", "d_n2").schema.add("dot", "long")

    def _score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            sv = np.stack(pdf["s_v"].to_numpy()).astype(np.int64)
            dv = np.stack(pdf["d_v"].to_numpy()).astype(np.int64)
            out = pdf[["src", "dst", "s_n2", "d_n2"]].copy()
            out["dot"] = np.einsum("ij,ij->i", sv, dv)
            yield pd.DataFrame(out)

    with_dot = paired.mapInPandas(_score, schema=out_schema)
    scored = with_dot.select(
        "src",
        "dst",
        F.round(
            F.col("dot") / F.sqrt(F.col("s_n2").cast("double") * F.col("d_n2").cast("double")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst").asc())
    g = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    if mutual:
        rev = g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        g = g.join(rev, ["src", "dst"], "left_semi")
    return g


# ---------------------------------------------------------------------------
# product quantization (PQ): per-subspace codebooks + ADC scan
# ---------------------------------------------------------------------------


def _sub(vec: Column, s: int, sub_dim: int) -> Column:
    return F.slice(vec, s * sub_dim + 1, sub_dim)


def _pq_pack(books: list[dict[int, list[int]]]):
    """[(ascending codes, codeword matrix, codeword squared norms)] per
    subspace — the driver-held codebooks the PQ numpy stages
    broadcast."""
    import numpy as np

    packed = []
    for cb in books:
        codes = sorted(cb)
        C = np.asarray([cb[c] for c in codes], dtype=np.int64)
        packed.append((np.asarray(codes, dtype=np.int64), C, (C * C).sum(axis=1)))
    return packed


def _pq_nearest(Q, packed):
    """Per subspace, ``(s, Q's subspace slice, each row's nearest
    code)``: exact int64 squared L2 and argmin-first over ascending
    codes == the (d² asc, code asc) tie-break — no rounding anywhere in
    the metric."""
    import numpy as np

    sub_dim = Q.shape[1] // len(packed)
    for s, (codes, C, cn2) in enumerate(packed):
        Qs = Q[:, s * sub_dim : (s + 1) * sub_dim]
        n2 = (Qs * Qs).sum(axis=1)
        d2 = n2[:, None] - 2 * (Qs @ C.T) + cn2[None, :]
        yield s, Qs, codes[np.argmin(d2, axis=1)]


def pq_train_rows(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    n_codes: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
) -> list[tuple[int, int, list[int], int]]:
    """Product-quantization codebooks held on the DRIVER (the PQ
    codebook is definitionally RAM-sized — m × n_codes × dim/m ints;
    FAISS keeps exactly this in memory): the vector is split into
    ``m`` contiguous subspaces of ``dim/m`` components, and each
    subspace trains its own ``n_codes``-entry codebook by the
    :func:`kmeans_train_rows` recipe — seed = the n_codes lowest-id
    subvectors, ONE Spark job per Lloyd iteration for ALL subspaces at
    once. An Arrow-batched numpy stage slices each batch into
    subspaces, assigns by exact int64 squared-L2 (:func:`_pq_nearest`),
    and emits per-partition (subspace, code, dim) integer partial sums;
    one tiny aggregate + one in-Spark rounded division produce the
    means. Associative int64 partials ⇒ partitioning-independent, and a
    DuckDB oracle re-derives identical codebooks.

    Returns [(subspace, code, components list[int], cn2)] sorted. The
    id column must be integral. Rows with a NULL id are skipped, and
    the stage reads vectors through :func:`_arrow_quantized`: a NULL
    vector or a NULL, NaN or infinite component trains nothing, while a
    zero vector counts (L2 is defined for it)."""
    import math

    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    _require_integral_id(corpus, id_col)
    sub_dim = dim // m
    # the seed rule of kmeans_train_rows: NULL ids seed first and crash
    # int(r[0]); a NULL, NaN or infinite seed has no codeword (an
    # infinite one is dropped here, as _prep_centroids drops it)
    corpus = corpus.where(F.col(id_col).isNotNull())
    seed = _seed(_finite_vectors(corpus, vec_col), n_codes, id_col).select(id_col, vec_col)
    seed = [r for r in seed.collect() if all(math.isfinite(x) for x in r[1])]
    # quantize seeds driver-side with the exact F.round twin
    books: list[dict[int, list[int]]] = []
    for s in range(m):
        cb = {}
        for r in seed:
            cb[int(r[0])] = [
                _round_half_up(float(x) * quantize)
                for x in r[1][s * sub_dim : (s + 1) * sub_dim]
            ]
        books.append(cb)
    spark = corpus.sparkSession
    # no spread(): vectorized-matmul stage — see kmeans_train_rows
    base = corpus.select(vec_col)
    schema = T.StructType(
        [T.StructField("subspace", T.IntegerType())]
        + [T.StructField(c, T.LongType()) for c in ("code", "dim", "val", "cnt")]
    )
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(_pq_pack(books))

        def partials(batches, _bc=bc):
            for batch in batches:
                _, Q, _ = _arrow_quantized(batch.column(0), quantize, dim, keep_zero=True)
                if not len(Q):
                    continue
                for s, Qs, a in _pq_nearest(Q, _bc.value):
                    code, d, val, cnt = _member_sums(a, Qs)
                    subspace = np.full(len(code), s, dtype=np.int32)
                    cols = [pa.array(c) for c in (subspace, code, d, val, cnt)]
                    yield pa.RecordBatch.from_arrays(cols, schema.fieldNames())

        rows = (
            base.mapInArrow(partials, schema)
            .groupBy("subspace", "code", "dim")
            .agg(F.sum("val").alias("__s"), F.sum("cnt").alias("__c"))
            .select(
                "subspace",
                "code",
                "dim",
                F.round(F.col("__s") / F.col("__c")).cast("long").alias("__cc"),
            )
            .collect()
        )
        books = [dict() for _ in range(m)]
        acc: dict[tuple[int, int], list[tuple[int, int]]] = {}
        for r in rows:
            acc.setdefault((int(r["subspace"]), int(r["code"])), []).append(
                (int(r["dim"]), int(r["__cc"]))
            )
        for (s, code), comps in acc.items():
            books[s][code] = [cc for _, cc in sorted(comps)]
    out = []
    for s in range(m):
        for code in sorted(books[s]):
            comps = books[s][code]
            out.append((s, code, comps, sum(c * c for c in comps)))
    return out


def pq_train(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    n_codes: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
) -> DataFrame:
    """:func:`pq_train_rows` as a DataFrame of (subspace int, code
    long, __c array<long>, __cn2 long) codebooks in the quantized
    domain."""
    rows = pq_train_rows(corpus, dim, m, n_codes, iters, id_col, vec_col, quantize)
    return corpus.sparkSession.createDataFrame(
        rows, "subspace int, code long, __c array<long>, __cn2 long"
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
) -> DataFrame:
    """Encode every vector as its nearest codebook entry per subspace:
    (id, subspace, code) — the PQ code table. At production scale this
    is the whole point: m small codes replace the raw vector (with
    256-entry codebooks, m bytes per vector — a 100 TB float corpus
    compresses to the point where the ADC scan is CPU-bound, not
    IO-bound). Encoding is map-only; the corpus never shuffles: the
    (RAM-sized) codebooks are collected once and all m subspaces are
    encoded in ONE Arrow-batched numpy pass (:func:`_pq_nearest`). The
    id column keeps its own Spark type, a NULL id included. Vectors are
    read through :func:`_arrow_quantized`: a NULL vector or a NULL, NaN
    or infinite component gets no code, while a zero vector is encoded
    (L2 is defined for it)."""
    import numpy as np
    import pyarrow as pa

    books: dict[int, dict[int, list[int]]] = {}
    for r in codebooks.select("subspace", "code", "__c").collect():
        books.setdefault(int(r["subspace"]), {})[int(r["code"])] = [int(x) for x in r["__c"]]
    bc = corpus.sparkSession.sparkContext.broadcast(_pq_pack([books[s] for s in range(m)]))
    src = corpus.select(F.col(id_col), F.col(vec_col))
    schema = src.schema[:1].add("subspace", "integer").add("code", "long")

    def encode(batches):
        for batch in batches:
            rows, Q, _ = _arrow_quantized(batch.column(1), quantize, dim, keep_zero=True)
            if not len(rows):
                continue
            codes = [a for _, _, a in _pq_nearest(Q, bc.value)]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).take(np.tile(rows, m)),
                    pa.array(np.repeat(np.arange(m, dtype=np.int32), len(rows))),
                    pa.array(np.concatenate(codes)),
                ],
                schema.fieldNames(),
            )

    # No spread(): vectorized-matmul stage — see kmeans_train_rows
    return src.mapInArrow(encode, schema)


def pq_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 4,
    n_codes: int = 8,
    k: int = 5,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
    refine: int | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC,
    public method: Jégou/Douze/Schmid, "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011): train PQ codebooks, encode
    the corpus once, then score every (query, vector) pair as the
    cosine between the query and the vector's RECONSTRUCTION —
    ⟨q, x̂⟩ = Σ_s table_s[code_s(x)] where each per-query lookup table
    holds the query-subvector · codebook-entry dots (exact int64).

    Scale shape: the lookup tables (queries × m × n_codes rows) and
    query norms broadcast; the code table joins them map-side and one
    (q_id, c_id) hash aggregate sums the m per-subspace terms —
    against the raw corpus an ADC scan reads m codes per vector
    instead of dim floats. Fully deterministic → fully oracled
    (``sim_pq_topk``); returns (q_id, c_id, cosine_pq, rank ≤ k).

    ``refine=R`` runs the standard two-stage recipe: the ADC scan
    shortlists R candidates per query, then ONLY those (q, c) pairs
    are re-scored with the exact quantized cosine on the raw vectors
    (a semi-join-sized read — R rows per query, never the corpus) and
    re-ranked to k. Returns (q_id, c_id, cosine, rank ≤ k) — exact
    scores over PQ-approximate candidates."""
    cb = pq_train(
        corpus, dim, m, n_codes, iters, id_col, vec_col, quantize
    ).localCheckpoint(eager=True)
    codes = pq_encode(corpus, cb, dim, m, id_col, vec_col, quantize)
    return _adc_topk(
        codes, cb, queries, corpus, dim, m, k, id_col, vec_col, quantize, refine
    )


def _adc_topk(
    codes: DataFrame,
    cb: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    m: int,
    k: int,
    id_col: str,
    vec_col: str,
    quantize: int,
    refine: int | None,
) -> DataFrame:
    """ADC ranking over a prebuilt (codes, codebooks) pair — shared by
    :func:`pq_cosine_topk` (which trains then scores) and
    :class:`PQStore` (which scores against persisted state). ``corpus``
    is touched only when ``refine`` re-ranks the shortlist exactly."""
    # NULL/NaN query vectors excluded (r17 self-review — the lookup
    # tables' quantizer cast was the first bomb); zero-norm queries
    # drop at the qn2 > 0 filter below
    queries = _finite_vectors(queries, vec_col)
    sub_dim = dim // m
    qparts = []
    for s in range(m):
        qparts.append(
            queries.select(
                F.col(id_col).alias("q_id"),
                F.lit(s).alias("subspace"),
                _quantized(_sub(F.col(vec_col), s, sub_dim), quantize).alias("__qs"),
            )
        )
    qsub = qparts[0]
    for p in qparts[1:]:
        qsub = qsub.unionByName(p)
    qtab = qsub.join(cb, "subspace").select(
        "q_id",
        "subspace",
        "code",
        _dot(F.col("__qs"), F.col("__c")).alias("__dt"),
        "__cn2",
    )
    qn2 = queries.select(
        F.col(id_col).alias("q_id"),
        _dot(
            _quantized(F.col(vec_col), quantize),
            _quantized(F.col(vec_col), quantize),
        ).alias("__qn2"),
    ).filter(F.col("__qn2") > 0)
    scored = (
        codes.withColumnRenamed(id_col, "c_id")
        .join(F.broadcast(qtab), ["subspace", "code"])
        .groupBy("q_id", "c_id")
        .agg(F.sum("__dt").alias("__adot"), F.sum("__cn2").alias("__rn2"))
        .join(F.broadcast(qn2), "q_id")
        .filter(~F.col("c_id").eqNullSafe(F.col("q_id")))
        .select(
            "q_id",
            "c_id",
            # __rn2 = 0 (an all-zero reconstruction) has no defined
            # cosine; NULL ranks last instead of a task-killing ANSI
            # 0/0 — division stays INSIDE the when() branch
            F.when(
                F.col("__rn2") > 0,
                F.round(
                    F.col("__adot")
                    / F.sqrt(F.col("__rn2").cast("double") * F.col("__qn2").cast("double")),
                    6,
                ),
            ).alias("cosine_pq"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_pq").desc(), F.col("c_id").asc())
    if refine is None:
        return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)

    cand = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= refine)
        .select("q_id", "c_id")
    )
    cvec = _finite_vectors(corpus, vec_col).select(
        F.col(id_col).alias("c_id"), _quantized(F.col(vec_col), quantize).alias("c_vec")
    ).withColumn("c_n2", _dot(F.col("c_vec"), F.col("c_vec"))).filter(F.col("c_n2") > 0)
    qvec = queries.select(
        F.col(id_col).alias("q_id"), _quantized(F.col(vec_col), quantize).alias("q_vec")
    ).withColumn("q_n2", _dot(F.col("q_vec"), F.col("q_vec"))).filter(F.col("q_n2") > 0)
    exact = (
        cand.join(cvec, "c_id")
        .join(F.broadcast(qvec), "q_id")
        .select(
            "q_id",
            "c_id",
            _cosine(
                F.col("c_vec"), F.col("q_vec"), F.col("c_n2"), F.col("q_n2")
            ).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return exact.withColumn("rank", F.row_number().over(w2)).filter(F.col("rank") <= k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 4,
    n_codes: int = 8,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
) -> DataFrame:
    """IVF + PQ — the production ANN composition (FAISS's IVFPQ index,
    public architecture from Jégou et al. 2011): a coarse quantizer
    partitions the corpus into inverted lists, and within the
    ``n_probe`` lists a query probes, scoring happens in the
    COMPRESSED domain (ADC over each vector's m codes). At 100 TB both
    factors matter: the probe touches corpus/n_centroids × n_probe of
    the lists, and what it reads per vector is m codes, not dim
    floats.

    Candidate generation is the IVF equi-join on centroid_id
    (q_assign broadcast); ADC scoring joins the candidates' code rows
    with the broadcast per-query lookup tables and sums the m terms in
    one (q_id, c_id) aggregate. Deterministic end to end → fully
    oracled (``sim_ivfpq_topk``)."""
    # NULL/NaN exclusion at entry (family contract, r17 self-review)
    corpus = _finite_vectors(corpus, vec_col)
    queries = _finite_vectors(queries, vec_col)
    cents = _centroid_rows(_seed(corpus, n_centroids, id_col), id_col, vec_col)
    c_assign = ivf_assign(corpus, cents, id_col, vec_col, quantize, n_probe=1).withColumnRenamed(
        id_col, "c_id"
    )
    q_assign = ivf_assign(queries, cents, id_col, vec_col, quantize, n_probe=n_probe).withColumnRenamed(
        id_col, "q_id"
    )
    cand = (
        c_assign.join(F.broadcast(q_assign), "centroid_id")
        .filter(~F.col("c_id").eqNullSafe(F.col("q_id")))
        .select("q_id", "c_id")
        .distinct()
    )

    cb = pq_train(
        corpus, dim, m, n_codes, iters, id_col, vec_col, quantize
    ).localCheckpoint(eager=True)
    codes = pq_encode(corpus, cb, dim, m, id_col, vec_col, quantize)

    sub_dim = dim // m
    qparts = []
    for s in range(m):
        qparts.append(
            queries.select(
                F.col(id_col).alias("q_id"),
                F.lit(s).alias("subspace"),
                _quantized(_sub(F.col(vec_col), s, sub_dim), quantize).alias("__qs"),
            )
        )
    qsub = qparts[0]
    for p in qparts[1:]:
        qsub = qsub.unionByName(p)
    qtab = qsub.join(cb, "subspace").select(
        "q_id",
        "subspace",
        "code",
        _dot(F.col("__qs"), F.col("__c")).alias("__dt"),
        "__cn2",
    )
    qn2 = queries.select(
        F.col(id_col).alias("q_id"),
        _dot(
            _quantized(F.col(vec_col), quantize),
            _quantized(F.col(vec_col), quantize),
        ).alias("__qn2"),
    ).filter(F.col("__qn2") > 0)
    scored = (
        codes.withColumnRenamed(id_col, "c_id")
        .join(cand, "c_id")  # restrict ADC to the probed lists
        .join(F.broadcast(qtab), ["q_id", "subspace", "code"])
        .groupBy("q_id", "c_id")
        .agg(F.sum("__dt").alias("__adot"), F.sum("__cn2").alias("__rn2"))
        .join(F.broadcast(qn2), "q_id")
        .select(
            "q_id",
            "c_id",
            # same zero-reconstruction guard as _adc_topk
            F.when(
                F.col("__rn2") > 0,
                F.round(
                    F.col("__adot")
                    / F.sqrt(F.col("__rn2").cast("double") * F.col("__qn2").cast("double")),
                    6,
                ),
            ).alias("cosine_pq"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_pq").desc(), F.col("c_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


class PQStore:
    """Persisted PQ index — the embedding analogue of
    ``dedup.SignatureStore``: codebooks are trained ONCE and then
    frozen; the code table is a keyed, upsertable lake table. New
    embeddings arriving later are encoded against the frozen codebooks
    (m broadcast assignments — the corpus is never re-encoded, the
    codebooks never retrained) and key-upserted, so index maintenance
    is O(delta) per batch; with ``buckets`` the code-table merge also
    rewrites only touched key-hash partitions.

    The 100 TB math: with 256-entry codebooks the codes are m bytes
    per vector — a float corpus compresses ~dim·4/m ×, and the
    steady-state ANN scan (:meth:`topk`) reads codes + codebooks only,
    touching raw vectors just for an optional exact re-rank of the
    shortlist. Everything is deterministic, so a store-backed query
    oracle-checks identically to the train-inline path
    (``sim_pq_store_topk``)."""

    def __init__(
        self,
        spark,
        path: str,
        dim: int,
        m: int = 4,
        n_codes: int = 8,
        iters: int = 1,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        quantize: int = 1_000_000,
        buckets: int | None = None,
        retain: int = 0,
    ):
        from ..sources.lake import LakeTable

        self.spark = spark
        self.dim, self.m, self.n_codes, self.iters = dim, m, n_codes, iters
        self.id_col, self.vec_col, self.quantize = id_col, vec_col, quantize
        path = path.rstrip("/")
        self.cb_table = LakeTable(spark, path + "/codebooks")
        self.codes_table = LakeTable(
            spark, path + "/codes", index=id_col, buckets=buckets, retain=retain
        )

    def exists(self) -> bool:
        return self.cb_table.exists() and self.codes_table.exists()

    def build(self, corpus: DataFrame) -> None:
        """Train codebooks on ``corpus`` and encode it — the one-time
        job every later :meth:`ingest` amortizes."""
        from ..sources.sql import SaveStrategy

        cb = pq_train(
            corpus, self.dim, self.m, self.n_codes, self.iters,
            self.id_col, self.vec_col, self.quantize,
        ).localCheckpoint(eager=True)
        self.cb_table.save(cb, SaveStrategy.REPLACE)
        self.codes_table.save(
            pq_encode(corpus, cb, self.dim, self.m, self.id_col, self.vec_col, self.quantize),
            SaveStrategy.REPLACE,
        )

    def codebooks(self) -> DataFrame:
        return self.cb_table.read().df

    def codes(self) -> DataFrame:
        return self.codes_table.read().df

    def ingest(self, new: DataFrame) -> None:
        """Encode ``new`` against the FROZEN codebooks and key-upsert
        into the code table. Re-sent ids overwrite their own codes, so
        at-least-once replay is idempotent."""
        from ..sources.sql import SaveStrategy

        self.codes_table.save(
            pq_encode(new, self.codebooks(), self.dim, self.m,
                      self.id_col, self.vec_col, self.quantize),
            SaveStrategy.UPSERT,
        )

    def topk(
        self,
        queries: DataFrame,
        k: int = 5,
        refine: int | None = None,
        corpus: DataFrame | None = None,
    ) -> DataFrame:
        """ADC top-k against the persisted index — no training, no
        corpus encode in the plan; raw vectors (``corpus``) are
        required and read only when ``refine`` re-ranks exactly."""
        if refine is not None and corpus is None:
            raise ValueError("refine requires the raw-vector corpus to re-rank")
        return _adc_topk(
            self.codes(), self.codebooks(), queries, corpus,
            self.dim, self.m, k, self.id_col, self.vec_col, self.quantize, refine,
        )


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
    with_sums: bool = False,
) -> DataFrame:
    """Exact integer Gram matrix ``G = Σ_rows q·qᵀ`` of the quantized
    embedding column — the one-corpus-pass reduction behind PCA,
    covariance analysis, and whitening at 100 TB: the corpus is read
    ONCE, each Arrow batch contributes a dim×dim partial via a single
    int64 matmul, and only dim² numbers ever aggregate.

    Exactness/overflow contract — ENFORCED at runtime (r13): vectors
    quantize JVM-side with the repo's engine-independent
    ``round(x·quantize)`` recipe, so Python sees only int64 arrays (no
    float rounding in the UDF). A per-batch partial is bounded by
    ``batch_rows · (quantize·max|x|)²``; each Arrow batch measures
    ``max|q|`` and, when the batch-level bound would exceed int64,
    splits the matmul into row chunks sized ``(2⁶³−1) // max|q|²`` so
    every emitted partial stays exact (numpy would otherwise WRAP
    int64 silently). The one unrepresentable case — a single row with
    ``max|q|² ≥ 2⁶³``, i.e. |x| ≳ 3000 at quantize=1e6 — raises a
    clear ValueError instead of corrupting G, as does a ragged
    embedding column (mixed array lengths). Partials aggregate as
    decimal(38,0), exact to ~1e38 total rows·energy (a 1e9-row corpus
    peaks around 1e21). Returns dim² rows (i, j, g) — metadata-sized
    by contract, like PQ codebooks.

    ``with_sums=True`` additionally emits the exact column sums as
    sentinel rows ``(i, -1, Σ q_i)`` and the row count as
    ``(-1, -1, n)`` — produced in the SAME pass (the batch already
    holds the matrix), so mean-centering (:func:`power_iteration_top`
    with ``sums``/``n``) costs no extra corpus read.

    Plan: one mapInPandas (Arrow-batched matmul, the one place Python
    touches data) + one (i, j) hash aggregate with map-side partials.
    No shuffle of the corpus itself."""
    q = df.where(F.col(vec_col).isNotNull()).select(
        _quantized(F.col(vec_col), quantize).alias("__q")
    )

    def _partials(batches):
        import numpy as np
        import pandas as pd

        i64_max = (1 << 63) - 1
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = pdf["__q"].tolist()
            lens = {len(r) for r in rows}
            if len(lens) != 1:
                raise ValueError(
                    "gram_matrix: ragged embedding column — array lengths "
                    f"{sorted(lens)[:8]} in one batch; a Gram matrix needs a "
                    "fixed dimension (filter or pad upstream)"
                )
            m = np.array(rows, dtype=np.int64)
            amax = int(np.abs(m).max())
            if amax * amax > i64_max:
                raise ValueError(
                    f"gram_matrix: max|q| = {amax} makes even a single-row "
                    "partial exceed int64 (max|q|^2 >= 2^63); lower `quantize` "
                    "or rescale the embeddings (|x|*quantize must stay below "
                    "~3.04e9)"
                )
            # Chunk so every partial obeys rows_in_chunk * amax^2 <= int64
            # max — numpy int64 matmul wraps SILENTLY past that, and the
            # docstring bound is a promise, not a hope.
            step = len(m) if amax == 0 else max(1, i64_max // (amax * amax))
            for lo in range(0, len(m), step):
                c = m[lo : lo + step]
                g = c.T @ c
                d = g.shape[0]
                ii, jj = np.indices((d, d))
                i_col = ii.ravel().astype("int32")
                j_col = jj.ravel().astype("int32")
                g_col = g.ravel()
                if with_sums:
                    i_col = np.concatenate(
                        [i_col, np.arange(d, dtype="int32"), np.array([-1], "int32")]
                    )
                    j_col = np.concatenate(
                        [j_col, np.full(d, -1, "int32"), np.array([-1], "int32")]
                    )
                    g_col = np.concatenate(
                        [g_col, c.sum(axis=0), np.array([len(c)], dtype=np.int64)]
                    )
                yield pd.DataFrame({"i": i_col, "j": j_col, "g": g_col})

    parts = q.mapInPandas(_partials, "i int, j int, g long")
    return parts.groupBy("i", "j").agg(
        F.sum(F.col("g").cast("decimal(38,0)")).alias("g")
    )


def collect_gram(gram_df: DataFrame) -> tuple[list[tuple[int, int, int]], list[int], int, int]:
    """Collect a :func:`gram_matrix` result (dim² metadata rows by
    contract) into ``(gram_rows, sums, n, dim)`` with ``dim`` DERIVED
    from the max index + 1 — callers stay dim-agnostic instead of
    hard-coding the corpus dimension (r12 verdict). ``sums``/``n``
    come from the ``with_sums=True`` sentinel rows and are zeros/0
    when the matrix was built without them."""
    rows: list[tuple[int, int, int]] = []
    sums_map: dict[int, int] = {}
    n = 0
    dim = 0
    for r in gram_df.collect():
        i, j, val = int(r["i"]), int(r["j"]), int(r["g"])
        if i == -1:
            n = val
        elif j == -1:
            sums_map[i] = val
            dim = max(dim, i + 1)
        else:
            rows.append((i, j, val))
            dim = max(dim, i + 1, j + 1)
    sums = [sums_map.get(i, 0) for i in range(dim)]
    return rows, sums, n, dim


def power_iteration_top(
    gram_rows: list[tuple[int, int, int]],
    dim: int,
    iters: int = 3,
    scale: int = 1_000_000,
    sums: list[int] | None = None,
    n: int | None = None,
) -> list[int]:
    """Top principal direction of an integer Gram matrix by a
    FIXED-iteration integer power method — the driver-side tail of
    :func:`gram_matrix` (the matrix is dim² metadata; the corpus never
    moves). Start vector ``v0_i = i + 1`` — deliberately NON-uniform:
    an all-ones start sits exactly in the centered matrix's null space
    whenever row sums are constant (the centering annihilates it), and
    a varied start has no such structural orthogonality. Each
    iteration is one exact mat-vec followed by integer renormalization
    ``v_i ← sign(w_i) · (|w_i|·scale) // max|w|`` (truncating division
    on non-negative operands — identical to SQL DIV), so every engine
    replaying the same iterations reproduces the vector bit for bit.
    Python ints are arbitrary-precision: no overflow at any corpus
    size. Returns the dim-length component, max-abs-normalized to
    ``scale``.

    With ``sums``/``n`` (the column sums and row count — gram_matrix's
    ``with_sums=True`` sentinels), the iteration runs on the CENTERED
    scatter matrix ``M = n·G − s·sᵀ = n² · Cov`` — the true principal
    component instead of the mean-dominated uncentered direction — via
    the factored mat-vec ``M·v = n·(G·v) − s·(sᵀ·v)`` (M itself is
    never materialized; same exact integers). The positive factor n²
    leaves the direction unchanged, so no division enters the loop."""
    G = [[0] * dim for _ in range(dim)]
    for i, j, g in gram_rows:
        if int(i) >= 0 and int(j) >= 0:
            G[int(i)][int(j)] = int(g)
    centered = sums is not None and n is not None
    s = [int(x) for x in sums] if centered else [0] * dim
    v = list(range(1, dim + 1))
    for _ in range(iters):
        gv = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        if centered:
            sv = sum(s[j] * v[j] for j in range(dim))
            w = [int(n) * gv[i] - s[i] * sv for i in range(dim)]
        else:
            w = gv
        m = max(abs(x) for x in w)
        if m == 0:  # zero matrix: direction undefined, report zeros
            return w
        v = [(1 if x >= 0 else -1) * ((abs(x) * scale) // m) for x in w]
    return v


def pca_project(
    df: DataFrame,
    component: list[int],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quantize: int = 1_000_000,
) -> DataFrame:
    """Project every embedding onto an integer component vector
    (:func:`power_iteration_top`'s artifact) — the downstream half of
    the PCA story: top-component scores feed drift monitors, coreset
    sampling, and 1-D indexes. The component rides as a literal array
    (≤ dim ints — plan metadata, no join), the dot is exact int64
    (|q|·|v|·dim ≤ ~3.4e13 at unit-scale embeddings — 5 orders under
    overflow), and one map-only pass emits (id_col, proj_q). NULL
    vectors are excluded like :func:`gram_matrix`."""
    comp = F.array(*[F.lit(int(x)).cast("long") for x in component])
    q = _quantized(F.col(vec_col), quantize)
    return df.where(F.col(vec_col).isNotNull()).select(
        id_col, _dot(q, comp).alias("proj_q")
    )
