"""All-DataFrame references for the Arrow/numpy stages in
``fabrix_spark.operators.similarity``: the brute-force cosine top-k
and IVF assignment as Spark expressions over a broadcast join, and the
Lloyd trainers built on them.

The registry's DuckDB oracles re-derive one Lloyd iteration and the
registry's query shapes; these give the same integer-domain recipes
for any iteration count, probe count and id type as plain DataFrame
ops, so the numpy stages are pinned against them bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fabrix_spark.operators.similarity import (
    _cosine,
    _dot,
    _finite_vectors,
    _pair_key,
    _quantized,
    _quantized_guarded,
    _sub,
)
from fabrix_spark.operators.util import spread


def cosine_topk_expr(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    quantize: int = 1_000_000,
) -> DataFrame:
    """``cosine_topk`` as expressions: corpus × broadcast queries on a
    single-valued hash key, exact int64 dots, null-safe self-exclusion,
    and the (cosine desc, c_id asc) window. NULL/NaN components and
    zero norms drop at ``n2 > 0``."""
    query_id_col = query_id_col or id_col
    cvec = _quantized_guarded(F.col(vec_col), quantize)
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
    scored = (
        c.join(F.broadcast(q), "__one")
        .filter(~F.col("c_id").eqNullSafe(F.col("q_id")))
        .select(
            "q_id",
            "c_id",
            F.round(
                _dot(F.col("c_vec"), F.col("q_vec"))
                / F.sqrt(F.col("c_n2").cast("double") * F.col("q_n2").cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_assign_join(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
    n_probe: int = 1,
) -> DataFrame:
    """``ivf_assign`` as a broadcast join of the corpus against the
    centroid frame: the ``n_probe`` best centroids per id by the
    (cosine desc, centroid id asc) window. NULL vectors, NULL/NaN
    components and zero norms are excluded. Rows group by id, so the
    corpus ids must be distinct and non-NULL."""
    cvec = _quantized(F.col(vec_col), quantize)
    vecs = (
        spread(_finite_vectors(corpus, vec_col))
        .select(F.col(id_col), cvec.alias("__v"))
        .withColumn("__v_n2", _dot(F.col("__v"), F.col("__v")))
        .filter(F.col("__v_n2") > 0)
        .withColumn("__one", _pair_key(id_col))
    )
    cents = (
        _finite_vectors(centroids, vec_col)
        .select(F.col(id_col).alias("centroid_id"), cvec.alias("__c"))
        .withColumn("__c_n2", _dot(F.col("__c"), F.col("__c")))
        .filter(F.col("__c_n2") > 0)
        .withColumn("__one", _pair_key("centroid_id"))
    )
    scored = vecs.join(F.broadcast(cents), "__one").select(
        id_col,
        "centroid_id",
        _cosine(F.col("__v"), F.col("__c"), F.col("__v_n2"), F.col("__c_n2")).alias("__cos"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__cos").desc(), F.col("centroid_id").asc())
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_probe)
        .select(id_col, "centroid_id")
    )


def kmeans_train_df(
    corpus: DataFrame,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
) -> DataFrame:
    """Seed = the k lowest-id vectors; each iteration assigns by
    cosine (:func:`ivf_assign_join`) and recomputes every centroid as
    the rounded int64 component mean. Returns (id_col, vec_col)."""
    corpus = _finite_vectors(corpus, vec_col).where(F.col(id_col).isNotNull())
    cents = corpus.orderBy(F.col(id_col).asc()).limit(k).select(id_col, vec_col)
    for _ in range(iters):
        assign = ivf_assign_join(corpus, cents, id_col=id_col, vec_col=vec_col,
                                 quantize=quantize, n_probe=1)
        qv = spread(corpus).select(F.col(id_col), _quantized(F.col(vec_col), quantize).alias("__q"))
        comp = assign.join(qv, id_col).select(
            "centroid_id", F.posexplode("__q").alias("dim", "val")
        )
        means = comp.groupBy("centroid_id", "dim").agg(
            F.sum("val").alias("__s"), F.count("*").alias("__c")
        )
        cents = (
            means.select(
                "centroid_id", "dim",
                F.round(F.col("__s") / F.col("__c")).cast("long").alias("__cc"),
            )
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "__cc"))),
                    lambda st: st["__cc"] / quantize,
                ).alias(vec_col)
            )
            .select(F.col("centroid_id").alias(id_col), vec_col)
        )
    return cents


def l2_assign(vecs: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Nearest codebook entry per vector by exact integer squared L2,
    d² = |v|² − 2⟨v,c⟩ + |c|², ties broken (d² asc, code asc).
    ``vecs``: (id, __v, __n2); ``cents``: (code, __c, __cn2)."""
    scored = (
        vecs.withColumn("__one", _pair_key(id_col))
        .join(F.broadcast(cents.withColumn("__one", _pair_key("code"))), "__one")
        .select(
            id_col,
            "code",
            (
                F.col("__n2")
                - F.lit(2) * _dot(F.col("__v"), F.col("__c"))
                + F.col("__cn2")
            ).alias("__d2"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__d2").asc(), F.col("code").asc())
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(id_col, "code")
    )


def _subvectors(corpus: DataFrame, s: int, sub_dim: int, id_col: str, vec_col: str,
                quantize: int) -> DataFrame:
    """(id, __v quantized subvector ``s``, __n2 its squared norm)."""
    return (
        spread(corpus)
        .select(
            F.col(id_col),
            _quantized(_sub(F.col(vec_col), s, sub_dim), quantize).alias("__v"),
        )
        .withColumn("__n2", _dot(F.col("__v"), F.col("__v")))
    )


def pq_train_df(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    n_codes: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
) -> DataFrame:
    """Per subspace, the :func:`kmeans_train_df` recipe with integer
    L2 assignment. Returns (subspace, code, __c array<long>, __cn2)."""
    corpus = _finite_vectors(corpus, vec_col)
    sub_dim = dim // m
    parts = []
    for s in range(m):
        sl = _subvectors(corpus, s, sub_dim, id_col, vec_col, quantize)
        cents = (
            sl.orderBy(F.col(id_col).asc())
            .limit(n_codes)
            .select(F.col(id_col).alias("code"), F.col("__v").alias("__c"), F.col("__n2").alias("__cn2"))
        )
        for _ in range(iters):
            assign = l2_assign(sl, cents, id_col)
            comp = assign.join(sl.select(id_col, "__v"), id_col).select(
                "code", F.posexplode("__v").alias("dim", "val")
            )
            means = comp.groupBy("code", "dim").agg(
                F.sum("val").alias("__s"), F.count("*").alias("__cnt")
            )
            cents = (
                means.select(
                    "code",
                    "dim",
                    F.round(F.col("__s") / F.col("__cnt")).cast("long").alias("__cc"),
                )
                .groupBy("code")
                .agg(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "__cc"))),
                        lambda st: st["__cc"],
                    ).alias("__c")
                )
                .withColumn("__cn2", _dot(F.col("__c"), F.col("__c")))
            )
        parts.append(cents.select(F.lit(s).alias("subspace"), "code", "__c", "__cn2"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pq_encode_df(
    corpus: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1_000_000,
) -> DataFrame:
    """(id, subspace, code): each subvector's nearest codebook entry
    by :func:`l2_assign`."""
    corpus = _finite_vectors(corpus, vec_col)
    parts = []
    for s in range(m):
        sl = _subvectors(corpus, s, dim // m, id_col, vec_col, quantize)
        book = codebooks.filter(F.col("subspace") == s).select("code", "__c", "__cn2")
        parts.append(l2_assign(sl, book, id_col).select(id_col, F.lit(s).alias("subspace"), "code"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
