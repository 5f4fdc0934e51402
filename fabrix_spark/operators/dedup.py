"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design (100 TB): every fuzzy-dedup path is
``signature (narrow) → band explode → equi-join on band key (shuffle
on band hash) → verify candidates only``. The quadratic all-pairs
comparison never happens on the full corpus — only on LSH candidate
buckets, which is the standard MinHash-LSH contract. All hashes are
md5-derived and engine-independent, so results are deterministic and
reproducible across engines and partitionings (no JVM hashCode, no
seed-dependent ml.feature randomness).

No row-at-a-time Python anywhere: the joins/bands/verification are
codegen'd expressions, and the one CPU-dense full-corpus pass —
tokenize → shingle → md5 → per-permutation min — runs as a single
``mapInArrow`` batch kernel (guide §4.2: Spark distributes, numpy
crunches), bit-identical to the expression pipeline it replaced
(pinned by tests).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .similarity import (
    _arrow_quantized,
    _cosine,
    _dot,
    _finite_vectors,
    _np_round6,
    _quantized,
    _require_integral_id,
    ivf_assign,
    kmeans_train_rows,
)
from .text import tokens
from .util import spread

__all__ = [
    "exact_dedup",
    "exact_dup_groups",
    "shingles",
    "shingle_hash32",
    "containment_pairs",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "jaccard_pairs",
    "minhash_dedup_pairs",
    "minhash_estimate_pairs",
    "SignatureStore",
    "incremental_candidates",
    "incremental_dedup_pairs",
    "simhash",
    "simhash_pairs",
    "hamming_pairs",
    "embedding_dedup_pairs",
    "semantic_dup_pairs",
    "semantic_prune",
    "dup_clusters",
    "decontaminate",
    "remove_common_segments",
    "keep_canonical",
    "keep_canonical_by",
    "overlap_pairs",
    "fuzzy_pairs",
    "fuzzy_join",
]

# prime just above 2^32 for the (a*h + b) % P permutation family
_P = 4294967311


def _hash_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs — no RNG, reproducible everywhere."""
    return [(2 * i + 1, 7919 * i + 104729) for i in range(n_hashes)]


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact deduplication — hash-aggregate keyed on ``cols`` (all
    columns if None). Map-side partial aggregation makes this one
    shuffle of distinct keys, not rows."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate-group summary: md5 content hash → group size +
    representative (min id). One shuffle on the 128-bit hash.

    NULL-text rows are EXCLUDED (r17 self-review): md5(NULL) is NULL
    and GROUP BY collects all NULLs into one group, so every
    missing-content document was reported as one big duplicate group —
    a dedup pipeline acting on that report deletes rows whose content
    it never saw. Absence of content is not evidence of duplication
    (the fingerprint operator's contract)."""
    h = F.md5(F.col(text_col).cast("binary"))
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("representative"))
    )


# ---------------------------------------------------------------------------
# shingling + deterministic 32-bit shingle hash
# ---------------------------------------------------------------------------


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array column. Documents shorter than
    ``n`` tokens contribute their whole text as a single shingle."""
    t = tokens(text)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(t) - F.lit(n)),
        lambda i: F.concat_ws(" ", F.slice(t, i + F.lit(1), F.lit(n))),
    )
    return F.when(F.size(t) >= n, grams).otherwise(F.array(F.concat_ws(" ", t)))


def shingle_hash32(sh: Column) -> Column:
    """First 8 hex chars of md5 → uint32-range long. Engine-independent
    (unlike murmur3 ``F.hash``), so signatures are reproducible."""
    return F.conv(F.substring(F.md5(sh.cast("binary")), 1, 8), 16, 10).cast("long")


# Spark's ``F.split(F.trim(text), r"\s+")`` semantics, replicated for
# the Arrow kernel: Java regex \s is ASCII-only ([ \t\n\x0B\f\r] — it
# does NOT match U+00A0 etc.), F.trim strips the space character 0x20
# only, and F.split's default limit -1 KEEPS leading/trailing empty
# tokens (a text starting with a tab tokenizes to ["", ...]). The
# Python class below is that exact ASCII set; ``str.strip(" ")``
# matches F.trim exactly. Pinned by the kernel-vs-expression equality
# tests (corpus + adversarial whitespace).
_JAVA_WS = _re.compile(r"[ \t\n\x0b\f\r]+")


def _shingle_sig_kernel(n: int, params: list[tuple[int, int]], with_set: bool):
    """mapInArrow kernel body: per batch of (id, text) rows, emit the
    distinct word-n-gram shingle set (first-occurrence order — the
    ``array_distinct`` contract) and/or the MinHash signature mins.

    Bit-exact twins of the expression path it replaces (guide §4.2 —
    the per-shingle md5 + per-permutation affine-mod-min ran as
    interpreted higher-order functions before; here the mins are one
    numpy matrix op + segmented reduce per batch, and md5 is hashlib's
    C implementation): h32 = first 4 md5 digest bytes big-endian ==
    ``conv(substring(md5(s), 1, 8), 16, 10)``; mins are int64-exact
    (a ≤ 2·n_hashes, so a·h + b < 2^48 ≪ 2^63)."""

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        from hashlib import md5

        sig_t = pa.int64()
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            flat: list[str] = []
            offsets = [0]
            for txt in texts:
                toks = _JAVA_WS.split(txt.strip(" "))
                if len(toks) >= n:
                    flat.extend(
                        dict.fromkeys(
                            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                        )
                    )
                else:
                    flat.append(" ".join(toks))
                offsets.append(len(flat))
            arrays, names = [ids], ["__id"]
            if with_set:
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(offsets, pa.int32()), pa.array(flat, pa.string())
                    )
                )
                names.append("__set")
            if params:
                if flat:
                    h = np.frombuffer(
                        b"".join(md5(s.encode("utf-8")).digest()[:4] for s in flat),
                        dtype=">u4",
                    ).astype(np.int64)
                    starts = np.asarray(offsets[:-1], dtype=np.int64)
                    for j, (a, b) in enumerate(params):
                        mins = np.minimum.reduceat((a * h + b) % _P, starts)
                        arrays.append(pa.array(mins, sig_t))
                        names.append(f"mh_{j}")
                else:
                    for j in range(len(params)):
                        arrays.append(pa.array([], sig_t))
                        names.append(f"mh_{j}")
            yield pa.RecordBatch.from_arrays(arrays, names)

    return kernel


def _shingle_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    n_hashes: int = 0,
    with_set: bool = True,
) -> DataFrame:
    """One Arrow pass over the corpus producing ``(__id[, __set]
    [, mh_0..mh_{k-1}])`` — the fused shingle-set + MinHash-signature
    scan every fuzzy-dedup family starts from.

    Shape (100 TB): project to (id, text) FIRST so the opaque Python
    stage ships only the two columns it reads (guide §4.1) and the
    NULL-text filter stays a JVM predicate that pushes to the scan;
    ``spread`` only scatters when the input has fewer splits than
    cores (no-op at real scale). The kernel itself is map-only — no
    shuffle until a downstream band/pair aggregate.

    NULL-text rows are EXCLUDED here, at the one entry every
    shingle-based family shares (r17 self-review): ``shingles(NULL)``
    collapsed to the single shingle ``""`` — the same degenerate set an
    EMPTY document produces — so every missing-content row paired with
    every empty row at Jaccard 1.0 across jaccard/minhash/containment/
    decontaminate and entered signature stores as a wildcard that
    rejected empty docs at the admission gate. Empty documents keep
    their ``""`` shingle and still dedupe AGAINST EACH OTHER (identical
    content is a real duplicate); only the no-content rows drop."""
    src = spread(
        df.filter(F.col(text_col).isNotNull()).select(F.col(id_col), F.col(text_col))
    )
    fields = [T.StructField("__id", src.schema[0].dataType, src.schema[0].nullable)]
    if with_set:
        fields.append(T.StructField("__set", T.ArrayType(T.StringType(), False), False))
    fields.extend(
        T.StructField(f"mh_{j}", T.LongType(), False) for j in range(n_hashes)
    )
    return src.mapInArrow(
        _shingle_sig_kernel(n, _hash_params(n_hashes), with_set),
        T.StructType(fields),
    )


def _shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle-set array) per doc — the Arrow kernel scan (see
    :func:`_shingle_frame` for the row contract and scale shape)."""
    return _shingle_frame(df, text_col, id_col, n, n_hashes=0, with_set=True)


def _doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle) pairs, distinct per doc — the explode feeding the
    inverted-index join (only the all-pairs path needs it)."""
    return _shingle_sets(df, text_col, id_col, n).select(
        "__id", F.explode("__set").alias("__sh")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact) — verification kernel + small-corpus dedup
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    shingle_size: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairs (id_a < id_b) with shingle-set Jaccard ≥ threshold —
    EXACT: every pair at or above the threshold is emitted.

    SIDE EFFECT: plan construction eagerly materializes the per-doc
    shingle sets via ``localCheckpoint`` (triggers one Spark job) —
    they feed several downstream branches and the checkpoint's
    computed stats keep the size-joins broadcast.

    Candidates come from an inverted-index self-join on the shingle
    hash; a Jaccard upper bound on the common-hash count (obtained
    free from the pair aggregate) prunes them to near-final pairs
    before the string-set verify. Hash collisions only inflate the
    common count, so recall is complete. Its weakness is a quadratic
    pair term on pathologically hot shingles (a shingle in d documents
    yields d² candidate rows). For approximate, hot-shingle-robust
    candidates use :func:`minhash_dedup_pairs`.

    Candidates are re-verified with exact string-set intersection, so
    an emitted pair's Jaccard is exact integer arithmetic
    (|∩| / (|A|+|B|-|∩|)).
    """
    # shingling feeds several branches (candidate generation + both
    # verify joins) — materialize it once instead of re-scanning the
    # corpus per branch (at warehouse scale this is the persisted
    # signature/shingle table every LSH pipeline keeps).
    # localCheckpoint (not persist): the LogicalRDD carries accurate
    # computed stats, so the downstream size-joins stay broadcast — a
    # lazy cache's unknown stats flip them to sort-merge and cost ~2×
    # (measured at sf0.1)
    sh_sets = _shingle_sets(df, text_col, id_col, shingle_size).localCheckpoint(eager=True)

    # Each exploded shingle row carries its doc's set size, so the
    # Jaccard upper bound falls out of the pair aggregate itself —
    # sizes are functionally dependent on the ids, so widening the
    # grouping key by two ints is free, and no per-document side
    # table needs joining back in. (r9: this replaces two forced
    # broadcasts of an O(N-docs) frame — the one shape that would
    # OOM the driver at 100 TB; now the plan has ONE shuffle and
    # zero driver-sized structures regardless of corpus size.)
    # explode FIRST, hash the exploded column (r18): xxhash64 over
    # a plain column is whole-stage codegen; the old
    # transform(set, xxhash64) ran the hash inside an interpreted
    # higher-order function. Same multiset of (id, sz, h) rows.
    ds_h = sh_sets.select(
        "__id",
        F.size("__set").alias("__sz"),
        F.explode("__set").alias("__s"),
    ).select("__id", "__sz", F.xxhash64("__s").alias("__h"))
    a = ds_h.alias("a")
    b = ds_h.alias("b")
    candidates = (
        a.join(b, (F.col("a.__h") == F.col("b.__h")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__sz").alias("__sza"),
            F.col("b.__sz").alias("__szb"),
        )
        .agg(F.count("*").alias("__ch"))
        .filter(
            F.round(F.col("__ch") / (F.col("__sza") + F.col("__szb") - F.col("__ch")), 6)
            >= threshold
        )
        .select("id_a", "id_b")
    )
    return _verify_jaccard(sh_sets, candidates, threshold)


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    shingle_size: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Directed near-containment pairs (id_sub, id_super, containment)
    with containment(A→B) = |A∩B| / |A| ≥ threshold — the asymmetric
    companion to Jaccard: a 50-token quote inside a 5000-token page has
    J ≈ 0.01 but containment 1.0, so this catches the excerpt/superset
    duplicates symmetric dedup misses (standard training-data hygiene
    for mostly-quoted documents).

    Plan: the same inverted-index candidate join as ``jaccard_pairs``
    (equi-join on the shingle hash, pair common-count aggregate), a
    directed upper-bound filter c/|side| ≥ t (hash collisions only
    inflate c, so recall is complete; sizes broadcast), then exact
    string-set verification of candidates only. Both directions are
    emitted independently; scores are exact integer arithmetic."""
    sh_sets = _shingle_sets(df, text_col, id_col, shingle_size).localCheckpoint(eager=True)
    # sizes ride the exploded rows into the pair aggregate (see
    # jaccard_pairs — r9: no broadcast of a per-document side table)
    # explode-then-hash: codegen'd xxhash64 instead of an interpreted
    # transform(...) higher-order function (r18, same as jaccard_pairs)
    ds_h = sh_sets.select(
        "__id",
        F.size("__set").alias("__sz"),
        F.explode("__set").alias("__s"),
    ).select("__id", "__sz", F.xxhash64("__s").alias("__h"))
    a, b = ds_h.alias("a"), ds_h.alias("b")
    bound = (
        a.join(b, (F.col("a.__h") == F.col("b.__h")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__sz").alias("__ba"),
            F.col("b.__sz").alias("__bb"),
        )
        .agg(F.count("*").alias("__ch"))
        .filter(
            (F.col("__ch") / F.col("__ba") >= threshold)
            | (F.col("__ch") / F.col("__bb") >= threshold)
        )
        .select("id_a", "id_b")
    )
    scored = (
        bound.join(sh_sets.select(F.col("__id").alias("id_a"), F.col("__set").alias("__sa")), "id_a")
        .join(sh_sets.select(F.col("__id").alias("id_b"), F.col("__set").alias("__sb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("__c"),
            F.size("__sa").alias("__sza"),
            F.size("__sb").alias("__szb"),
        )
    )
    # both directions emitted from ONE pass over `scored` via explode
    # (r18): the old fwd ∪ rev union's branches were independent
    # subtrees, so the whole candidate join + pair aggregate + verify
    # intersect executed TWICE. Identical (id_sub, id_super,
    # containment) multiset.
    directed = F.array(
        F.struct(
            F.col("id_a").alias("id_sub"),
            F.col("id_b").alias("id_super"),
            F.round(F.col("__c") / F.col("__sza"), 6).alias("containment"),
        ),
        F.struct(
            F.col("id_b").alias("id_sub"),
            F.col("id_a").alias("id_super"),
            F.round(F.col("__c") / F.col("__szb"), 6).alias("containment"),
        ),
    )
    return (
        scored.select(F.explode(directed).alias("__d"))
        .select("__d.id_sub", "__d.id_super", "__d.containment")
        .filter(F.col("containment") >= threshold)
    )


def _verify_jaccard(sh_sets: DataFrame, candidates: DataFrame, threshold: float) -> DataFrame:
    """Exact verification of candidate pairs: the narrow per-doc string
    sets give the true intersection and sizes (no shuffle to build)."""
    pair_sh = candidates.select(F.col("id_a"), F.col("id_b"))
    scored = (
        pair_sh.join(sh_sets.withColumnRenamed("__id", "id_a").withColumnRenamed("__set", "__sa"), "id_a")
        .join(sh_sets.withColumnRenamed("__id", "id_b").withColumnRenamed("__set", "__sb"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("__common"),
            F.size("__sa").alias("__sza"),
            F.size("__sb").alias("__szb"),
        )
    )
    return (
        scored.withColumn(
            "jaccard",
            F.round(F.col("__common") / (F.col("__sza") + F.col("__szb") - F.col("__common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 16,
    shingle_size: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per document: min over shingles of
    ``(a_i * h32(shingle) + b_i) % P`` for each of ``n_hashes``
    deterministic permutations.

    NARROW — one map-only pass, no shuffle at all until someone
    aggregates downstream; at 100 TB the signature stage is therefore
    a map-only scan. It runs the fused Arrow kernel
    (:func:`_shingle_frame` — tokenize/shingle/md5/min in one numpy
    batch pass, r18: replaces the interpreted per-permutation
    ``transform``+``array_min`` chain, bit-identical by pin test)."""
    return _shingle_frame(
        df, text_col, id_col, shingle_size, n_hashes=n_hashes, with_set=False
    ).withColumnRenamed("__id", id_col)


def _banded(signatures: DataFrame, n_hashes: int, bands: int, id_col: str) -> DataFrame:
    """Explode a signature frame into (``__id``, band, key) rows —
    ``bands`` bands of ``n_hashes/bands`` signature rows each, the key
    being the concatenated minhash values of the band."""
    rows_per_band = n_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws("_", *[F.col(f"mh_{bi * rows_per_band + r}") for r in range(rows_per_band)]).alias("key"),
            )
            for bi in range(bands)
        ]
    )
    return signatures.select(F.col(id_col).alias("__id"), F.explode(band_structs).alias("bk")).select(
        "__id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    salt: int | None = None,
) -> DataFrame:
    """Band the signature (``bands`` bands of ``n_hashes/bands`` rows),
    bucket-join docs sharing a band. This is THE scale move: the
    shuffle is on (band_idx, band_key) and only same-bucket docs pair
    up. Returns distinct (id_a < id_b).

    ``salt`` (opt-in) hardens the one adversarial shape the bucket
    join has: a pathologically hot bucket (a near-identical corpus
    collapses whole copies into ONE (band, key)), whose B² pair
    generation lands on a single task. AQE's skew-join CANNOT split it
    — a self-join's hot bucket is skewed on BOTH sides, which
    OptimizeSkewedJoin explicitly refuses — so the fix is a salted
    self-join: each row gets a deterministic chunk ``hash(id) % salt``;
    the probe side replicates once per chunk value and the join key
    becomes (band, key, chunk), so the hot bucket's work spreads over
    ``salt`` tasks (each B·B/salt comparisons) while every qualifying
    pair still meets exactly once. Cost on benign corpora: a
    ``salt``-way replication of one side of the (narrow) banded rows —
    leave it None unless bucket-size skew is expected or measured."""
    banded = _banded(signatures, n_hashes, bands, id_col)
    if salt is None:
        a = banded.alias("a")
        b = banded.alias("b")
        cond = (
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.__id") < F.col("b.__id"))
        )
    else:
        if salt < 2:
            raise ValueError("salt must be >= 2 (or None to disable)")
        chunked = banded.withColumn(
            "__c", F.pmod(F.xxhash64(F.col("__id")), F.lit(salt)).cast("int")
        )
        probes = chunked.crossJoin(
            F.broadcast(
                signatures.sparkSession.range(salt).select(F.col("id").cast("int").alias("__t"))
            )
        )
        a = probes.alias("a")
        b = chunked.alias("b")
        cond = (
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.__t") == F.col("b.__c"))
            & (F.col("a.__id") < F.col("b.__id"))
        )
    return (
        a.join(b, cond)
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded
    candidates → exact-Jaccard verification of candidates only.
    ``salt`` passes through to :func:`lsh_candidate_pairs` (hot-bucket
    hardening for near-identical corpora)."""
    # ONE fused Arrow pass produces both the shingle sets (verify
    # input) and the signature columns, materialized together (r18 —
    # previously two sequential eager checkpoints: sets, then a
    # signature job re-deriving mins from the sets). The checkpoint is
    # the persisted signature table of a real LSH pipeline; its
    # computed stats keep the downstream size-joins broadcast.
    frame = _shingle_frame(
        df, text_col, id_col, shingle_size, n_hashes=n_hashes, with_set=True
    ).localCheckpoint(eager=True)
    sets = frame.select("__id", "__set")
    sigs = frame.select(
        F.col("__id").alias(id_col), *[f"mh_{i}" for i in range(n_hashes)]
    )
    cands = lsh_candidate_pairs(sigs, n_hashes, bands, id_col, salt=salt)
    return _verify_jaccard(sets, cands, threshold)


def minhash_estimate_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Signature-ONLY near-dup triage: banded LSH candidates scored by
    the MinHash estimator — the fraction of equal signature components
    — with NO exact verification pass. Returns
    (id_a, id_b, jaccard_est ≥ threshold).

    This is the 100 TB triage mode: after the one map-only signature
    scan, everything downstream touches only n_hashes longs per doc —
    candidate generation is the banded equi-join and scoring is a
    column comparison on rows already joined, so the corpus text is
    never read a second time (the verify pass of
    :func:`minhash_dedup_pairs` is exactly the cost this trades away
    for ±1/sqrt(n_hashes) estimator noise). Deterministic hash family
    → fully oracle-able."""
    sigs = minhash_signatures(
        df, n_hashes, shingle_size, text_col, id_col
    ).localCheckpoint(eager=True)
    cands = lsh_candidate_pairs(sigs, n_hashes, bands, id_col)
    a = sigs.select(
        F.col(id_col).alias("id_a"), *[F.col(f"mh_{i}").alias(f"__a{i}") for i in range(n_hashes)]
    )
    b = sigs.select(
        F.col(id_col).alias("id_b"), *[F.col(f"mh_{i}").alias(f"__b{i}") for i in range(n_hashes)]
    )
    matches = sum(
        F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(matches / F.lit(float(n_hashes)), 6).alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= threshold)
    )


# ---------------------------------------------------------------------------
# incremental corpus-delta dedup against a persisted signature store
# ---------------------------------------------------------------------------


class SignatureStore:
    """Persisted MinHash signature table for incremental (corpus-delta)
    dedup: the corpus is signed ONCE, the signatures live in a keyed
    parquet lake table, and every later dedup of newly arrived
    documents probes the store with a banded equi-join instead of
    re-shingling the corpus.

    This lifts the reference's incremental probe-then-save pattern
    (existing-ids probe + upsert split, fabrix-sql/src/executor/
    ec.rs:518-538) to corpus scale. The 100 TB math: ``n_hashes``
    longs per document is ~0.1-1% of the corpus bytes, so the probe
    side of every future dedup round reads the small signed table
    (map-only parquet scan); the raw corpus is touched only to verify
    candidate ids — a semi join that reads the handful of matched
    documents, never the whole corpus. ``ingest`` folds survivors'
    signatures back in via the lake key-upsert (one anti join), so the
    store stays current without ever being rebuilt."""

    def __init__(
        self,
        spark,
        path: str,
        n_hashes: int = 16,
        shingle_size: int = 3,
        id_col: str = "doc_id",
        buckets: int | None = None,
        retain: int = 0,
        lock: bool = False,
    ):
        from ..sources.lake import LakeTable

        self.n_hashes = n_hashes
        self.shingle_size = shingle_size
        self.id_col = id_col
        # buckets: partition the store by key hash so the per-batch
        # `ingest` upsert rewrites only the touched bucket partitions
        # (O(delta) file writes), not the whole signature table
        # lock: forward the lake's advisory writer lock so concurrent
        # ingest rounds serialize instead of lost-updating each other
        self.table = LakeTable(
            spark, path, index=id_col, buckets=buckets, retain=retain, lock=lock
        )

    @property
    def path(self) -> str:
        return self.table.path

    def exists(self) -> bool:
        return self.table.exists()

    def sign(self, docs: DataFrame, text_col: str = "text") -> DataFrame:
        return minhash_signatures(
            docs, self.n_hashes, self.shingle_size, text_col, self.id_col
        )

    def build(self, docs: DataFrame, text_col: str = "text") -> None:
        """Sign the full corpus and (re)write the store."""
        from ..sources.sql import SaveStrategy

        self.table.save(self.sign(docs, text_col), SaveStrategy.REPLACE)

    def build_once(self, docs: DataFrame, text_col: str = "text") -> bool:
        """Build the store iff it does not exist yet, safe against the
        cross-process double-build race: two processes that both see
        ``not exists()`` would otherwise build concurrently (benign
        only because the content is deterministic). A dedicated
        ``_build_lock`` file — separate from the table's writer lock,
        which ``save`` acquires for itself — serializes the
        check-then-build, and the exists() re-check under the lock
        makes the second arrival a no-op. Returns True when this call
        did the build."""
        with self.table.writer_lock("_build_lock"):
            if self.exists():
                return False
            self.build(docs, text_col)
            return True

    def ingest(self, new_docs: DataFrame, text_col: str = "text") -> None:
        """Key-upsert the new docs' signatures into the store — called
        after a dedup round admits its survivors.

        The delta signatures are materialized ONCE before the upsert
        (r18, guide §2.4): the bucketed merge evaluates its input
        three times (touched-bucket collect, anti-join probe side,
        union write side), and handing it the lazy sign plan re-ran
        the whole shingle/signature scan per evaluation — measured
        ~3× the batch's entire probe cost in the admission replay.
        The checkpoint is delta-sized (n_hashes longs per doc)."""
        from ..sources.sql import SaveStrategy

        sigs = self.sign(new_docs, text_col).localCheckpoint(eager=True)
        self.table.save(sigs, SaveStrategy.UPSERT)

    def read(self) -> DataFrame:
        """The persisted signature frame (parquet scan, no recompute)."""
        return self.table.read().df


def incremental_candidates(
    new_sigs: DataFrame,
    store_sigs: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded LSH candidates between freshly signed new docs and the
    persisted corpus signatures: distinct (new_id, corpus_id).

    By construction this needs ONLY the two signature frames — the
    corpus side arrives pre-signed from the store, so no corpus text
    is read or re-shingled to produce candidates. The only shuffle is
    the (band, key) equi-join; identical ids on both sides (a re-sent
    document) are excluded as self-pairs."""
    n = _banded(new_sigs, n_hashes, bands, id_col).alias("n")
    c = _banded(store_sigs, n_hashes, bands, id_col).alias("c")
    return (
        n.join(
            c,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.key") == F.col("c.key"))
            & (F.col("n.__id") != F.col("c.__id")),
        )
        .select(F.col("n.__id").alias("new_id"), F.col("c.__id").alias("corpus_id"))
        .distinct()
    )


def incremental_dedup_pairs(
    new_docs: DataFrame,
    store: SignatureStore,
    corpus_docs: DataFrame,
    threshold: float = 0.5,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup newly arrived documents against an existing corpus via its
    persisted :class:`SignatureStore`: sign ONLY the new docs (narrow
    map), banded-probe the store, then exact-verify candidates by
    re-shingling JUST the candidate corpus docs (semi join on the
    candidate ids) alongside the new docs. Returns
    (new_id, corpus_id, jaccard ≥ threshold).

    ``corpus_docs`` is read only for candidate verification; its
    signatures come from the store. The two sides keep separate
    shingle-set frames through verification, so a new document
    re-using a corpus id compares its NEW text against the corpus
    text of any other candidate id it buckets with."""
    n_hashes, shingle_size = store.n_hashes, store.shingle_size
    # one fused Arrow pass signs AND shingles the delta (r18): the
    # sets feed verification, the signature columns feed the probe —
    # previously a sets checkpoint plus a second signature derivation.
    new_frame = _shingle_frame(
        new_docs, text_col, id_col, shingle_size, n_hashes=n_hashes, with_set=True
    ).localCheckpoint(eager=True)
    new_sets = new_frame.select("__id", "__set")
    new_sigs = new_frame.select(
        F.col("__id").alias(id_col), *[f"mh_{i}" for i in range(n_hashes)]
    )
    cands = incremental_candidates(
        new_sigs, store.read(), n_hashes, bands, id_col
    ).localCheckpoint(eager=True)
    # candidate ids are normally DELTA-bounded by the banded-probe
    # contract, so the semi-filter broadcasts them: the corpus is
    # filtered in place instead of shuffling end to end just to meet a
    # delta-sized id set (the checkpoint hides size stats, so without
    # the hint the planner sort-merges this — one full corpus shuffle
    # per probe). Band SKEW can break the bound (one new doc whose
    # band key matches a huge near-dup cluster pulls in the whole
    # cluster), so the broadcast is size-GUARDED: counting the
    # checkpointed ids is cheap, and past the threshold the plan
    # degrades to the shuffled semi-join instead of OOMing the driver.
    cand_ids = cands.select(
        F.col("corpus_id").alias(id_col)
    ).distinct().localCheckpoint(eager=True)
    if cand_ids.count() <= 5_000_000:
        cand_ids = F.broadcast(cand_ids)
    cand_corpus = corpus_docs.join(cand_ids, id_col, "left_semi")
    corpus_sets = _shingle_sets(cand_corpus, text_col, id_col, shingle_size)
    scored = (
        cands.join(
            new_sets.select(F.col("__id").alias("new_id"), F.col("__set").alias("__sa")),
            "new_id",
        )
        .join(
            corpus_sets.select(F.col("__id").alias("corpus_id"), F.col("__set").alias("__sb")),
            "corpus_id",
        )
        .select(
            "new_id",
            "corpus_id",
            F.size(F.array_intersect("__sa", "__sb")).alias("__common"),
            F.size("__sa").alias("__sza"),
            F.size("__sb").alias("__szb"),
        )
    )
    return (
        scored.withColumn(
            "jaccard",
            F.round(F.col("__common") / (F.col("__sza") + F.col("__szb") - F.col("__common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash signature: per token-occurrence 32-bit hash; bit j of the
    signature is the sign of Σ(±1) over tokens.

    NARROW — the per-token hashes live in an array column and each bit
    sum is ``2·popcount_j − n`` computed with ``size(filter(...))``; no
    explode, no shuffle, exact integer math."""
    hashed = spread(df).select(
        F.col(id_col),
        F.transform(tokens(F.col(text_col)), lambda t: shingle_hash32(t)).alias("__hs"),
    )
    n_tok = F.size("__hs")
    sig = None
    for j in range(bits):
        ones = F.size(
            F.filter("__hs", lambda h: F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1)
        )
        term = F.when(2 * ones - n_tok > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else (sig + term)
    return hashed.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split the signature into ``bands`` chunks; any
    pair within distance < bands shares ≥1 exact chunk, so the join is
    an equi-join on (chunk_idx, chunk_value) — never all-pairs."""
    sigs = simhash(df, bits, text_col, id_col)
    return hamming_pairs(
        sigs, sig_col="simhash", id_col=id_col, bits=bits, bands=bands,
        max_hamming=max_hamming,
    )


def hamming_pairs(
    sigs: DataFrame,
    sig_col: str,
    id_col: str,
    bits: int,
    bands: int,
    max_hamming: int,
) -> DataFrame:
    """Generic banded Hamming near-dup join over any integer signature
    column (SimHash text signatures, image average-hashes, …).

    Pigeonhole banding: split the signature into ``bands`` chunks; any
    pair within distance < bands shares ≥1 exact chunk, so the join is
    an equi-join on (chunk_idx, chunk_value) — never all-pairs."""
    assert max_hamming < bands, "pigeonhole needs max_hamming < bands"
    chunk_bits = bits // bands
    mask = (1 << chunk_bits) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftright(F.col(sig_col), bi * chunk_bits).bitwiseAND(F.lit(mask)).alias("key"),
            )
            for bi in range(bands)
        ]
    )
    banded = sigs.select(
        F.col(id_col).alias("__id"), F.col(sig_col).alias("__sig"), F.explode(chunks).alias("bk")
    ).select("__id", "__sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.__sig").bitwiseXOR(F.col("b.__sig"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


# ---------------------------------------------------------------------------
# cluster resolution: pairs -> connected components -> canonical docs
# ---------------------------------------------------------------------------


def dup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    strategy: str = "label",
) -> DataFrame:
    """Resolve near-dup pairs into clusters: every document gets the
    minimum doc id of its connected component as ``cluster_id``
    (singletons cluster with themselves).

    ``strategy='label'`` (default): iterative min-label propagation —
    each round, every node takes the smallest label among itself and
    its neighbors; converges in at most the graph DIAMETER (near-dup
    components are shallow, so a handful of rounds). Each round is one
    join + one aggregate, both shuffling on the node id; nothing
    collects to the driver except the 1-row convergence check.

    ``strategy='star'``: alternating large-star/small-star contraction
    (public algorithm: Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — converges in O(log²)·rounds of
    the component size rather than its diameter, so adversarially long
    chains (diameter ≫ 20) resolve where label propagation would need
    one round per hop. Same output contract, property-tested equal.
    """
    # symmetrize in ONE explode pass, not pairs ∪ reversed(pairs)
    # (r18): union branches are independent subtrees, so the union
    # form executed the ENTIRE candidate-pair pipeline twice inside
    # the checkpoint job below. Then materialize once — the pipeline
    # must not re-execute every iteration either.
    both = F.array(
        F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
    )
    edges = (
        pairs.select(F.explode(both).alias("__e"))
        .select(F.col("__e.src").alias("src"), F.col("__e.dst").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if strategy == "star":
        labeled = _cc_star(edges, max_iterations)
    elif strategy == "label":
        labeled = _cc_min_label(edges, nodes, id_col, max_iterations)
    else:
        raise ValueError(f"unknown connected-components strategy {strategy!r}")
    all_nodes = nodes.select(F.col(id_col).alias("node")).distinct()
    return (
        all_nodes.join(labeled, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("label", F.col("node")).alias("cluster_id"),
        )
    )


def _cc_min_label(
    edges: DataFrame, nodes: DataFrame, id_col: str, max_iterations: int
) -> DataFrame:
    """Min-label propagation over a bidirectional edge list; returns
    (node, label) for every node of ``nodes``."""
    labels = nodes.select(F.col(id_col).alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "new_label"
                ),
                "label",
            )
        )
        # materialize the round ONCE, then derive BOTH the convergence
        # check and the next labels from the materialized RDD (r17):
        # counting `changed` straight off the lazy plan executed the
        # round's join+aggregate for the count and AGAIN for the
        # checkpoint — and the final round's labels left the function
        # lazy, re-running that join per downstream consumer. The
        # checkpoint also cuts the growing lineage (O(1) per round).
        updated = updated.localCheckpoint(eager=True)
        changed = updated.filter(F.col("new_label") != F.col("label")).limit(1).count()
        labels = updated.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    if changed != 0:
        # silently returning partial components would split clusters —
        # the worst dedup failure mode (duplicates survive). Long-
        # diameter graphs are what strategy='star' exists for.
        raise RuntimeError(
            f"min-label propagation did not converge in {max_iterations} "
            "iterations (component diameter exceeds the budget); raise "
            "max_iterations or use strategy='star'"
        )
    return labels


def _cc_star(edges: DataFrame, max_iterations: int) -> DataFrame:
    """Alternating large-star/small-star contraction; returns
    (node, label) for every node that appears in ``edges``.

    Per round (all keyed shuffles, nothing driver-side but the 1-row
    fixpoint check):

    * large-star — for each node u, connect every strictly LARGER
      neighbor to m = min(Γ(u) ∪ {u}); each undirected edge is
      processed from its smaller endpoint.
    * small-star — orient edges large→small; for each node u connect
      every (smaller) neighbor and u itself to m = min(Γ(u) ∪ {u}).

    The fixpoint is a forest of stars centered at each component's
    minimum id, so the final edge list IS the (node, label) map."""
    # canonical undirected form (small, large)
    e = (
        edges.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iterations):
        # -- large-star: group by the SMALLER endpoint's neighborhoods.
        # bidirectional view so Γ(u) is complete
        bidir = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            bidir.groupBy("u").agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        large = (
            bidir.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: orient large→small, group by the larger end
        oriented = large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        mins2 = (
            oriented.groupBy("u").agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        joined = oriented.join(mins2, "u")
        small = (
            joined.select(F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v"))
            .union(joined.select(F.least(F.col("u"), F.col("m")).alias("u"), F.greatest(F.col("u"), F.col("m")).alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        converged = (
            small.exceptAll(e).limit(1).count() == 0
            and e.exceptAll(small).limit(1).count() == 0
        )
        e = small
        if converged:
            break
    if not converged:
        # the edge set short of the fixpoint is not a forest of stars:
        # its labels split components (see _cc_min_label)
        raise RuntimeError(
            f"star contraction did not converge in {max_iterations} "
            "iterations; raise max_iterations"
        )
    # fixpoint stars: u is the component min for every (u, v) edge
    return e.select(F.col("v").alias("node"), F.col("u").alias("label")).union(
        e.select(F.col("u").alias("node"), F.col("u").alias("label"))
    ).groupBy("node").agg(F.min("label").alias("label"))


def keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative per cluster — the minimum-id member
    (== the cluster id itself under min-label clustering)."""
    reps = clusters.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return df.join(reps, id_col, "left_semi")


def keep_canonical_by(
    df: DataFrame,
    clusters: DataFrame,
    priority_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the HIGHEST-priority member of each duplicate cluster
    (ties → lowest id) — source-preference dedup: when a curated
    source and a scraped mirror collide in one cluster, keep the
    curated copy regardless of which id is smaller. ``priority_col``
    is a numeric rank on ``df`` (higher wins). One per-cluster
    aggregate (min_by over a (−priority, id) struct) + a semi-join —
    same shuffle ledger as :func:`keep_canonical` plus one aggregate
    on cluster_id."""
    j = df.select(id_col, priority_col).join(clusters, id_col)
    reps = (
        j.groupBy("cluster_id")
        .agg(
            F.min_by(
                id_col,
                F.struct(
                    (-F.col(priority_col)).alias("np"), F.col(id_col).alias("i")
                ),
            ).alias(id_col)
        )
        .select(id_col)
    )
    return df.join(reps, id_col, "left_semi")


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------


def embedding_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
    method: str = "lsh",
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold.

    Components quantize to int64 (round(v * 1e6)) so dot products and
    norms are exact integers — bit-reproducible across engines — and
    only the final cosine division is floating point.

    ``method='lsh'`` (default, the 100 TB path): candidates come from
    deterministic random-hyperplane LSH buckets
    (``similarity.hyperplane_lsh_buckets``, multi-table) — the pair
    join is an equi-join on (table, bucket), never all-pairs — then
    candidates are verified with the exact integer cosine. Recall
    follows the standard 1-(1-p^planes)^tables curve (p = 1-θ/π);
    because every hash is md5-derived the candidate set itself is
    deterministic, so results reproduce bitwise on any engine.

    ``dim``: embedding length, used to inline the ±1 plane matrices as
    constants. ``None`` (default) derives it from the data with a
    ONE-ROW driver action at plan-construction time; pass it
    explicitly to stay fully lazy. Rows whose vector length differs
    from ``dim`` raise at execution (see hyperplane_lsh_buckets) —
    a mismatch would otherwise silently send every vector to bucket 0
    and degenerate the candidate join into a full cross product.

    ``method='exact'``: the brute-force O(n²) kernel — the recall
    oracle for tests and small corpora only.

    NULL/NaN-component vectors are excluded (see ``_finite_vectors``).
    """
    df = _finite_vectors(df, vec_col)
    vecs = spread(df).select(
        F.col(id_col).alias("__id"), _quantized(F.col(vec_col), quantize).alias("__q")
    )
    # zero-norm vectors excluded: cosine is undefined for them and the
    # 0/0 double division in the verify is an ANSI DIVIDE_BY_ZERO
    norms = vecs.select("__id", "__q", _dot(F.col("__q"), F.col("__q")).alias("__n2")).filter(
        F.col("__n2") > 0
    )
    cosine = _cosine(F.col("a.__q"), F.col("b.__q"), F.col("a.__n2"), F.col("b.__n2"))

    if method == "exact":
        a = norms.alias("a")
        b = norms.alias("b")
        return (
            a.join(b, F.col("a.__id") < F.col("b.__id"))
            .select(
                F.col("a.__id").alias("id_a"),
                F.col("b.__id").alias("id_b"),
                cosine.alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )

    from .similarity import hyperplane_lsh_buckets

    if dim is None:
        # derive the embedding length from the data: one-row action
        # (documented above); empty input falls through to the
        # schema-agnostic in-expression parity path (dim=None)
        first = df.select(F.size(F.col(vec_col)).alias("__d")).first()
        dim = int(first["__d"]) if first is not None else None

    buckets = hyperplane_lsh_buckets(
        df, n_planes, id_col, vec_col, quantize, n_tables=n_tables, dim=dim
    ).select(F.col(id_col).alias("__id"), "table", "bucket")
    ba = buckets.alias("ba")
    bb = buckets.alias("bb")
    cands = (
        ba.join(
            bb,
            (F.col("ba.table") == F.col("bb.table"))
            & (F.col("ba.bucket") == F.col("bb.bucket"))
            & (F.col("ba.__id") < F.col("bb.__id")),
        )
        .select(F.col("ba.__id").alias("id_a"), F.col("bb.__id").alias("id_b"))
        .distinct()
    )
    a = norms.alias("a")
    b = norms.alias("b")
    return (
        cands.join(a, cands.id_a == F.col("a.__id"))
        .join(b, cands.id_b == F.col("b.__id"))
        .select("id_a", "id_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    shingle_size: int = 5,
    min_overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag training documents that share word n-grams with a
    benchmark/eval set — the standard n-gram decontamination pass every
    serious training-data pipeline runs before training.

    Output: every train document with ``n_overlap`` (number of its
    DISTINCT shingles that appear anywhere in the benchmark) and a
    ``contaminated`` flag (n_overlap ≥ min_overlap).

    Scale shape: the benchmark's distinct shingle set is usually tiny
    relative to the corpus → broadcast equi-join on the shingle; the
    train side stays a narrow explode + one count aggregate keyed by
    doc id. Never an all-pairs comparison."""
    train_sh = _doc_shingles(train, text_col, id_col, shingle_size)
    bench_sh = (
        _doc_shingles(benchmark, text_col, id_col, shingle_size)
        .select("__sh")
        .distinct()
    )
    overlap = (
        train_sh.join(F.broadcast(bench_sh), "__sh")
        .groupBy("__id")
        .agg(F.count("*").alias("n_overlap"))
    )
    ids = train.select(F.col(id_col).alias("__id"))
    return (
        ids.join(overlap, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias("contaminated"),
        )
    )


def remove_common_segments(
    df: DataFrame,
    seg_words: int = 4,
    max_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level boilerplate removal — the line-dedup pass of
    CCNet/RefinedWeb (public methodology), adapted to segment
    granularity: the document is cut into consecutive ``seg_words``-word
    segments (the "lines"), any segment that occurs in more than
    ``max_docs`` distinct documents is removed from every document, and
    the survivors are stitched back in order.

    Output: one row per input document — ``clean_text`` (may be empty),
    ``n_segments``, ``n_dropped``.

    Scale shape: segment explode → one hash aggregate for per-segment
    document frequency → the frequent segments (a tiny blocklist by
    construction) broadcast back as a LEFT ANTI join — the corpus-sized
    side never reshuffles on the segment key — then one groupBy(doc)
    to reassemble. The per-doc segment count is derived arithmetically
    (ceil(n_tokens / seg_words)), not re-aggregated, so the corpus is
    exploded once for counting and once for the anti-join+rebuild —
    never a third time. No all-pairs, no UDF."""
    toks = tokens(F.col(text_col))
    n_seg_expr = F.ceil(F.size("__toks") / F.lit(seg_words)).cast("long")
    segs = (
        spread(df)
        .select(F.col(id_col).alias("__id"), toks.alias("__toks"))
        .select(
            "__id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_seg_expr.cast("int") - 1),
                    lambda i: F.concat_ws(" ", F.slice("__toks", i * seg_words + 1, seg_words)),
                )
            ).alias("__pos", "__seg"),
        )
    )
    common = (
        segs.groupBy("__seg")
        .agg(F.countDistinct("__id").alias("__df"))
        .filter(F.col("__df") > max_docs)
        .select("__seg")
    )
    kept = segs.join(F.broadcast(common), "__seg", "left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__seg"))),
                lambda s: s["__seg"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("__kept"),
    )
    ids = spread(df).select(
        F.col(id_col).alias("__id"), toks.alias("__toks")
    ).select("__id", n_seg_expr.alias("n_segments"))
    return (
        ids.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("n_segments"),
            (F.col("n_segments") - F.coalesce("__kept", F.lit(0))).alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup)
# ---------------------------------------------------------------------------


def _semdedup_assigned(
    corpus: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    quantize: int,
    centroids: DataFrame | None,
) -> DataFrame:
    """(id, centroid_id, vector) for SemDeDup's per-cluster stage:
    each vector assigned to its nearest centroid by the map-only numpy
    stage (:func:`similarity.ivf_assign`). The centroid table is
    trained on the driver (:func:`similarity.kmeans_train_rows`), or an
    explicit ``centroids`` frame of k rows is collected. The id column
    must be integral (the per-cluster stage orders ids as int64), and
    NULL-id rows are dropped up front, as the trainer drops them."""
    _require_integral_id(corpus, id_col)
    corpus = corpus.where(F.col(id_col).isNotNull())
    if centroids is None:
        centroids = kmeans_train_rows(
            corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col, quantize=quantize
        )
    return ivf_assign(
        corpus, centroids, id_col=id_col, vec_col=vec_col, quantize=quantize, keep_vec=True
    )


def _cluster_cosines(table, quantize: int):
    """One cluster's pairwise scores from its Arrow group (id,
    centroid_id, vector): (ids ascending, exact int64 dot matrix, int64
    norms, raw double cosines, and the upper-triangle index pairs
    (i < j, so ids[i] < ids[j])). Vectors are read through
    :func:`similarity._arrow_quantized`, so a row with no cosine scores
    nothing."""
    import numpy as np

    rows, Q, n2 = _arrow_quantized(table.column(2), quantize)
    ids = np.asarray(table.column(0).to_numpy(), dtype=np.int64)[rows]
    order = np.argsort(ids)
    Q, n2 = Q[order], n2[order]
    dots = Q @ Q.T
    raw = dots / np.sqrt(n2[:, None].astype(np.float64) * n2[None, :].astype(np.float64))
    ii, jj = np.triu_indices(len(ids), k=1)
    return ids[order], dots, n2, raw, ii, jj


def semantic_dup_pairs(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 1,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540, public literature): k-means-cluster the embedding
    space, then compare embeddings pairwise ONLY within a cluster and
    flag pairs with cosine >= ``threshold``.

    Scale design: the quadratic comparison is scoped to a cluster, and
    ``k`` is chosen so clusters stay bounded (the paper uses k ~ sqrt(N);
    at 100 TB you raise ``k`` with corpus size so cluster cardinality —
    and hence the per-cluster comparison — stays constant). Clustering
    is the deterministic integer-domain Lloyd trainer shared with IVF
    (:func:`fabrix_spark.operators.similarity.kmeans_train_rows`), the
    assignment is map-only (see :func:`_semdedup_assigned`), and the
    data shuffles once on ``centroid_id`` into a per-cluster stage that
    scores all pairs as ONE numpy int64 matmul — the
    :func:`~fabrix_spark.operators.similarity.cosine_topk` architecture.
    Exact integer dots/norms leave Python; the 6-dp rounding and the
    threshold cut happen in Spark (F.round), so the pair set is
    bit-reproducible and a DuckDB oracle re-derives it exactly (the
    Python side only pre-filters with an epsilon margin no surviving
    pair can cross).

    Returns (centroid_id, a_id, b_id, cosine) with a_id < b_id. The id
    column must be integral; NULL-id rows are dropped. NULL vectors,
    NULL/NaN/infinite components and zero-norm vectors are excluded
    (they have no cosine).
    """
    import numpy as np
    import pyarrow as pa

    assigned = _semdedup_assigned(corpus, k, iters, id_col, vec_col, quantize, centroids)
    margin = float(threshold) - 1e-6

    def cluster_pairs(key, table):
        ids, dots, n2, raw, ii, jj = _cluster_cosines(table, quantize)
        keep = raw[ii, jj] >= margin
        ii, jj = ii[keep], jj[keep]
        return pa.table(
            {
                "centroid_id": np.full(len(ii), key[0].as_py(), dtype=np.int64),
                "a_id": ids[ii],
                "b_id": ids[jj],
                "dot": dots[ii, jj],
                "an2": n2[ii],
                "bn2": n2[jj],
            }
        )

    cand = assigned.groupBy("centroid_id").applyInArrow(
        cluster_pairs,
        "centroid_id long, a_id long, b_id long, dot long, an2 long, bn2 long",
    )
    return cand.select(
        "centroid_id",
        "a_id",
        "b_id",
        F.round(
            F.col("dot") / F.sqrt(F.col("an2").cast("double") * F.col("bn2").cast("double")),
            6,
        ).alias("cosine"),
    ).filter(F.col("cosine") >= F.lit(threshold))


def semantic_prune(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 1,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup pruning: drop every embedding that has a LOWER-id
    semantic duplicate in its cluster (dominance rule — deterministic,
    order-free, and exactly expressible in SQL as a NOT-EXISTS, unlike
    the paper's greedy sequential scan, which it closely tracks: both
    keep cluster exemplars and drop high-similarity followers).

    Returns the kept rows as (``id_col``, centroid_id). The pruned set
    is the input ids minus these. The dominance rule is entirely
    CLUSTER-LOCAL, so the kept set comes out of ONE per-cluster Arrow
    stage behind the single shuffle on centroid_id (clustering and
    assignment as in :func:`semantic_dup_pairs`). The threshold
    decision uses a two-band comparison: raw cosines further than 1e-6
    from the threshold decide directly (6-dp rounding moves a value by
    < 5e-7 + repr error), and only the rare in-band values go through
    the exact F.round(x, 6) decimal twin (``_np_round6``) — the same
    decision as the SQL oracle's ``round(cos, 6) >= threshold``.
    The id column must be integral; NULL-id rows are dropped. NULL
    vectors, NULL/NaN/infinite components and zero-norm vectors are
    excluded (they have no cosine).
    """
    import numpy as np
    import pyarrow as pa

    assigned = _semdedup_assigned(corpus, k, iters, id_col, vec_col, quantize, centroids)
    thr = float(threshold)

    def cluster_kept(key, table):
        ids, _, _, raw, ii, jj = _cluster_cosines(table, quantize)
        vals = raw[ii, jj]
        dup = vals >= thr + 1e-6
        band = np.abs(vals - thr) < 1e-6
        if band.any():
            dup[band] = _np_round6(vals[band]) >= thr
        pruned = np.zeros(len(ids), dtype=bool)
        pruned[jj[dup]] = True
        return pa.table(
            {
                id_col: ids[~pruned],
                "centroid_id": np.full(int((~pruned).sum()), key[0].as_py(), dtype=np.int64),
            }
        )

    return assigned.groupBy("centroid_id").applyInArrow(
        cluster_kept, f"{id_col} long, centroid_id long"
    )


def overlap_pairs(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = 1000,
) -> DataFrame:
    """Continuation detection: ordered pairs (a, b) where the LAST
    ``k`` tokens of a equal the FIRST ``k`` tokens of b — the
    scraped-page-continuation / chunk-boundary-stitching signal
    (re-crawled multi-page articles split mid-sentence; the overlap
    says "b continues a", which exact/fuzzy duplicate detection can't
    see because the documents as wholes are different).

    Map-only boundary extraction (two slices per doc), one equi-join
    on the boundary string — never all-pairs; at very large ``k``
    hash the boundary first and verify matches. Docs shorter than 2k
    tokens are skipped (their "suffix" and "prefix" would overlap
    themselves).

    Hot-boundary guard (the jaccard hot-shingle lesson): a boundary
    string shared by H docs on each side yields H² pairs — a stock
    phrase ("click here to continue") could go quadratic. ``max_df``
    drops boundary strings whose suffix-side document frequency
    exceeds it (one tiny aggregate, broadcast anti-probe — the
    remove_common_segments blocklist shape); None disables the guard.
    Returns (a_id, b_id, overlap)."""
    from .util import spread

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = (
        spread(df)
        .select(F.col(id_col), toks.alias("__t"))
        .withColumn("__n", F.size("__t"))
        .filter(F.col("__n") >= 2 * k)
        .select(
            id_col,
            F.concat_ws(
                " ", F.slice(F.col("__t"), F.col("__n") - F.lit(k - 1), k)
            ).alias("__suf"),
            F.concat_ws(" ", F.slice(F.col("__t"), 1, k)).alias("__pre"),
        )
    )
    a = base.select(F.col(id_col).alias("a_id"), F.col("__suf").alias("overlap"))
    b = base.select(F.col(id_col).alias("b_id"), "__pre")
    if max_df is not None:
        hot = (
            a.groupBy("overlap")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("overlap")
        )
        a = a.join(F.broadcast(hot), "overlap", "left_anti")
    return (
        a.join(b, a.overlap == b.__pre)
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", "overlap")
    )


def decontaminate_semantic(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination — the semantic companion to the
    n-gram :func:`decontaminate` pass: a training item is contaminated
    when ANY benchmark embedding sits within ``threshold`` cosine of
    it (paraphrased eval questions share no n-grams but sit next to
    each other in embedding space). Returns every corpus row's id with
    ``max_benchmark_cosine`` (rounded 6dp; null → -1 when nothing is
    in radius) and the ``contaminated`` flag.

    Plan: the radius probe is :func:`similarity.cosine_range_search`
    with ``exclude_self=False`` — corpus and benchmark are INDEPENDENT
    tables, so an id collision between them (both zero-based, say) is
    a real pair that must be probed, not a self-pair to skip
    (benchmark side broadcast, map-only threshold filter — the
    benchmark is metadata-sized by contract), one max-aggregate on the
    corpus id, one left join back to the id spine. The corpus never
    self-joins and never shuffles on anything but its own id."""
    from .similarity import cosine_range_search

    # probe only scoreable vectors (see _finite_vectors); the id SPINE
    # stays the unfiltered corpus, so NULL/NaN-vector rows still report
    # max_benchmark_cosine = -1 / contaminated = false instead of
    # crashing the pass — a vector that cannot be scored cannot be
    # declared contaminated
    hits = cosine_range_search(
        _finite_vectors(corpus, vec_col),
        _finite_vectors(benchmark, vec_col),
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        exclude_self=False,
    )
    worst = hits.groupBy(F.col("c_id").alias("__id")).agg(
        F.max("cosine").alias("max_benchmark_cosine")
    )
    spine = corpus.select(F.col(id_col).alias("__id"))
    return (
        spine.join(worst, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("max_benchmark_cosine", F.lit(-1.0)).alias("max_benchmark_cosine"),
            F.col("max_benchmark_cosine").isNotNull().alias("contaminated"),
        )
    )


#: blocking generator name → projected key column. "prefix"/"suffix"
#: are the default pair (an edit must diverge away from one END to be
#: caught); "sorted_prefix" is the opt-in stopword-robust third pass —
#: the first ``key_len`` chars of the token-SORTED text, invariant to
#: token reordering and to edits anywhere that leave the
#: lexicographically-smallest tokens intact (standard sorted-
#: neighborhood-style key, Christen 2012 §4.2), catching the
#: both-ends-edited pairs the positional generators miss by design.
FUZZY_GENERATORS = {
    "prefix": "__pre",
    "suffix": "__suf",
    "sorted_prefix": "__srt",
}


def _fuzzy_block_keys(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str | None,
    key_len: int,
    generators: tuple[str, ...] = ("prefix", "suffix"),
) -> tuple[list[str], DataFrame, list[str]]:
    """Shared blocking projection for :func:`fuzzy_pairs` /
    :func:`fuzzy_join`: (scope columns, frame with __id / __norm /
    one column per generator, generator key columns). One definition
    so the two consumers can never drift on the null filters or the
    substring semantics (negative-pos ``substring`` clamps like
    Python slicing for texts shorter than ``key_len`` — the property
    the brute-force fuzz pins)."""
    unknown = [g for g in generators if g not in FUZZY_GENERATORS]
    if unknown:
        raise ValueError(
            f"unknown blocking generators {unknown!r}; "
            f"choose from {sorted(FUZZY_GENERATORS)}"
        )
    if len(set(generators)) != len(generators):
        # a duplicate would project the same __key column twice and
        # die much later as an ambiguous-reference AnalysisException —
        # refuse loudly here like the unknown-name case
        raise ValueError(f"duplicate blocking generators: {generators!r}")
    norm = F.trim(F.col(text_col))
    base = df.filter(F.col(text_col).isNotNull())
    if block_col is not None:
        base = base.filter(F.col(block_col).isNotNull())
    scope = [block_col] if block_col is not None else []
    exprs = []
    for g in generators:
        if g == "prefix":
            exprs.append(F.substring(norm, 1, key_len).alias("__pre"))
        elif g == "suffix":
            exprs.append(F.substring(norm, -key_len, key_len).alias("__suf"))
        else:  # sorted_prefix
            # trim strips SPACES only, so a leading/trailing tab or
            # newline survives into norm and split(\s+) would emit an
            # empty edge token that sorts first and shifts the whole
            # key — drop empty tokens (Python str.split() semantics,
            # what the brute-force model replays)
            toks = F.filter(F.split(norm, r"\s+"), lambda x: x != "")
            exprs.append(
                F.substring(
                    F.array_join(F.array_sort(toks), " "), 1, key_len
                ).alias("__srt")
            )
    keys = [FUZZY_GENERATORS[g] for g in generators]
    return scope, spread(base).select(
        F.col(id_col).alias("__id"),
        *scope,
        norm.alias("__norm"),
        *exprs,
    ), keys


def fuzzy_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    key_len: int = 16,
    block_cap: int = 64,
    pct_threshold: int = 30,
    generators: tuple[str, ...] = ("prefix", "suffix"),
) -> DataFrame:
    """Edit-distance near-duplicate pairs via blocking + verification —
    the classic entity-resolution recipe (blocking keys bound the
    candidate set; Levenshtein verifies candidates only), covering the
    character-level near-dup class the token-set detectors miss: a
    single-character typo shifts every overlapping shingle, so MinHash
    / Jaccard under-score it, while its edit distance is exactly 1.

    Two blocking generators per document — the first ``key_len`` chars
    and the last ``key_len`` chars of the trimmed text (each
    optionally scoped by ``block_col``, e.g. language) — so a
    near-dup pair is a candidate when the edit diverges away from
    either end; this is standard multi-pass blocking (recall is
    bounded by the generators BY DESIGN: a pair edited at both ends
    within ``key_len`` chars is missed, the documented blocking
    tradeoff — opt in to ``generators=("prefix", "suffix",
    "sorted_prefix")`` to add a token-sorted third pass that is
    invariant to token reordering and catches both-ends edits, at the
    cost of one more window+self-join and whatever candidates the
    extra blocks contribute; see :data:`FUZZY_GENERATORS`). Blocks larger than ``block_cap`` are purged (Papadakis
    -style block purging): a stock opening shared by H docs would
    otherwise yield H^2 candidates — the same hot-key guard as
    jaccard's ``max_df``. Candidates from both generators are
    dedup'd, then verified with one BANDED ``levenshtein`` per pair
    (threshold-capped DP, exact within the band — see the verify
    stage below); a pair survives when
    ``100*dist <= pct_threshold*max_len`` (exact integer arithmetic —
    no float ratio).

    Scale shape: two window counts + two self equi-joins on the block
    keys (each self-join reuses the window's hash partitioning — no
    extra exchange), a pair-level distinct, and two id-joins back to
    the slim (id, text) table. The corpus never cross-joins; per-pair
    verify cost is bounded by the text-length contract of the corpus
    (chunked docs), and the candidate count is duplicate-density
    bounded plus the purge cap. Returns (doc_a, doc_b, dist, max_len).
    """
    from pyspark.sql import Window

    scope, k, keys = _fuzzy_block_keys(
        df, text_col, id_col, block_col, key_len, generators
    )

    def _cands(key: str) -> DataFrame:
        w = Window.partitionBy(*scope, key)
        kk = (
            k.withColumn("__n", F.count("*").over(w))
            .filter((F.col("__n") >= 2) & (F.col("__n") <= block_cap))
            .select("__id", *scope, key)
        )
        a = kk.select(F.col("__id").alias("doc_a"), *scope, key)
        b = kk.select(F.col("__id").alias("doc_b"), *scope, key)
        return a.join(b, on=[*scope, key]).filter(
            F.col("doc_a") < F.col("doc_b")
        ).select("doc_a", "doc_b")

    cand = _cands(keys[0])
    for key in keys[1:]:
        cand = cand.unionByName(_cands(key))
    cand = cand.distinct()
    slim = k.select("__id", "__norm", F.length("__norm").alias("__len"))
    # The verify stage is CPU-bound, not byte-bound: candidate rows are
    # a few hundred bytes but each pays an O(threshold·len) edit-
    # distance DP. AQE coalesces shuffle partitions by SIZE, so
    # without an explicit user repartition it folds the whole verify
    # into 1-2 tasks and serializes the DP work (measured 293 s → 10 s
    # at a 4.5M-doc synthetic; an explicit partition count is the one
    # thing AQE will not coalesce). The extra shuffle moves only the
    # candidate set — duplicate-density bounded, never the corpus.
    # The lazy localCheckpoint is a LINEAGE BARRIER, the same device as
    # rank.global_rank's: without it Catalyst substitutes the dist
    # alias and pushes the threshold filter through the repartition
    # INTO the id-join as a non-equi condition — the whole DP then runs
    # inside the join's (coalesced) stage and AGAIN in the output
    # projection (measured: the barrier-less plan carries levenshtein
    # twice and runs 78 s where this one runs ~10 s at the 4.5M-doc
    # synthetic). Materializing here is safe by the same contract that
    # makes the set joinable at all: candidates, never the corpus.
    # "Lazy" is not deferred under AQE: AdaptiveSparkPlanExec.execute()
    # builds the final plan, so the checkpoint call itself runs every
    # shuffle stage behind the barrier (the blocking windows, the
    # candidate distinct, the repartition) and only the last stage
    # waits for the first action. The barrier is a SQL execution of its
    # own; its plan is in the session's SQL status store
    # (session.recorded_plans), not in the returned frame's plan.
    verify_in = (
        cand.join(slim.withColumnRenamed("__id", "doc_a"), "doc_a")
        .withColumnsRenamed({"__norm": "__na", "__len": "__la"})
        .join(slim.withColumnRenamed("__id", "doc_b"), "doc_b")
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    # Banded Levenshtein: the per-pair threshold floor(pct·max_len/100)
    # caps the DP at O(k·min_len) instead of O(len²) (Spark returns -1
    # when the distance exceeds it, and the returned distance is EXACT
    # whenever it is within the band — so surviving pairs carry the
    # true distance and cross-engine parity is unaffected). ~4× per
    # pair over the full DP, more when the pair is wildly different.
    band = (
        f"levenshtein(__na, __norm, "
        f"cast(({int(pct_threshold)} * greatest(__la, __len)) div 100 as int))"
    )
    pairs = verify_in.select(
        "doc_a",
        "doc_b",
        F.expr(band).cast("long").alias("dist"),
        F.greatest("__la", "__len").cast("long").alias("max_len"),
    )
    # dist >= 0 drops the over-band sentinel; the percent predicate is
    # then implied by the band but kept as the declared contract
    return pairs.filter(
        (F.col("dist") >= 0)
        & (F.lit(100) * F.col("dist") <= F.lit(pct_threshold) * F.col("max_len"))
    )


def fuzzy_join(
    probe: DataFrame,
    ref: DataFrame,
    text_col: str = "text",
    probe_id_col: str = "doc_id",
    ref_id_col: str = "doc_id",
    block_col: str | None = "lang",
    key_len: int = 16,
    block_cap: int = 64,
    pct_threshold: int = 30,
    generators: tuple[str, ...] = ("prefix", "suffix"),
    count_ref: DataFrame | None = None,
) -> DataFrame:
    """Two-table fuzzy match — :func:`fuzzy_pairs`' JOIN form, the
    deployable entity-resolution step: match incoming ``probe`` rows
    against near-duplicates in a ``ref`` (master/already-ingested)
    table by edit distance, e.g. "is this new document a lightly
    edited copy of anything we already kept?". Same recipe as the
    self-dedup: prefix/suffix blocking generators scoped by
    ``block_col``, block purging, one banded Levenshtein per distinct
    candidate, pairs kept at ``100*dist <= pct_threshold*max_len``.

    Differences from the self-join form, by design:

    - the purge count is over the REF side only (a hot stock opening
      in the master would fan every matching probe out to H
      candidates; probe-side repetition costs probe×cap, linear in
      the probe). Singleton ref blocks stay (a probe row matching ONE
      master row is the point — the self-dedup's ``n >= 2`` floor
      does not apply).
    - no id ordering or self-pair exclusion: the two id spaces are
      independent (same contract as decontaminate_semantic). A row
      present in both tables will match itself at dist 0.

    Candidate count is bounded by probe_rows × 2 generators ×
    ``block_cap``; the verify stage repartitions explicitly behind
    the same lazy localCheckpoint barrier as fuzzy_pairs (AQE's
    size-based coalescing would serialize the CPU-bound DP; Catalyst
    would push the threshold filter into the id-joins). Returns
    (probe_id, ref_id, dist, max_len).

    ``count_ref`` decouples the purge-count BASIS from the probe ref:
    when set, per-block counts come from a group-by over ``count_ref``
    (left-joined back onto the ref's block keys; a ref block absent
    from the basis counts 0 and is kept) instead of a window over
    ``ref`` itself. The streaming admission gate needs this for its
    redelivery fixpoint — counting over the master MINUS the current
    batch's ids gives a basis that the batch's own commits cannot
    change, so a replayed batch sees the same purge decisions as the
    first delivery (a survivor joining a block at exactly
    ``block_cap`` would otherwise purge it on replay and admit a doc
    the first pass rejected). The trade is a soft cap: rows present
    in ``ref`` but absent from ``count_ref`` (e.g. redelivered or
    updated batch rows padding a ref block) don't count toward the
    purge, so the effective per-block candidate bound is
    ``block_cap`` plus the excluded rows in that block — hot-block
    protection degrades gracefully rather than strictly."""
    from pyspark.sql import Window

    scope, kp, keys = _fuzzy_block_keys(
        probe, text_col, probe_id_col, block_col, key_len, generators
    )
    _, kr, _ = _fuzzy_block_keys(
        ref, text_col, ref_id_col, block_col, key_len, generators
    )
    kc = None
    if count_ref is not None:
        _, kc, _ = _fuzzy_block_keys(
            count_ref, text_col, ref_id_col, block_col, key_len, generators
        )

    def _cands(key: str) -> DataFrame:
        if kc is None:
            w = Window.partitionBy(*scope, key)
            r = (
                kr.withColumn("__n", F.count("*").over(w))
                .filter(F.col("__n") <= block_cap)
                .select(F.col("__id").alias("ref_id"), *scope, key)
            )
        else:
            counts = kc.groupBy(*scope, key).agg(F.count("*").alias("__n"))
            r = (
                kr.select(F.col("__id").alias("ref_id"), *scope, key)
                .join(counts, on=[*scope, key], how="left")
                .filter(F.coalesce(F.col("__n"), F.lit(0)) <= block_cap)
                .select("ref_id", *scope, key)
            )
        p = kp.select(F.col("__id").alias("probe_id"), *scope, key)
        return p.join(r, on=[*scope, key]).select("probe_id", "ref_id")

    cand = _cands(keys[0])
    for key in keys[1:]:
        cand = cand.unionByName(_cands(key))
    cand = cand.distinct()
    slim_p = kp.select(
        F.col("__id").alias("probe_id"),
        F.col("__norm").alias("__np"),
        F.length("__norm").alias("__lp"),
    )
    slim_r = kr.select(
        F.col("__id").alias("ref_id"),
        F.col("__norm").alias("__nr"),
        F.length("__norm").alias("__lr"),
    )
    verify_in = (
        cand.join(slim_p, "probe_id")
        .join(slim_r, "ref_id")
        .repartition(probe.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint(eager=False)
    )
    band = (
        f"levenshtein(__np, __nr, "
        f"cast(({int(pct_threshold)} * greatest(__lp, __lr)) div 100 as int))"
    )
    pairs = verify_in.select(
        "probe_id",
        "ref_id",
        F.expr(band).cast("long").alias("dist"),
        F.greatest("__lp", "__lr").cast("long").alias("max_len"),
    )
    return pairs.filter(
        (F.col("dist") >= 0)
        & (F.lit(100) * F.col("dist") <= F.lit(pct_threshold) * F.col("max_len"))
    )
