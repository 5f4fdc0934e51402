"""Inverted text index: persisted posting lists + index-accelerated
keyword search.

A full-text containment query (`docs whose text has ALL these terms`)
over a 100 TB corpus cannot afford a scan-and-regex pass per query.
The standard shape is an inverted index: one (token, doc_id) posting
table, built once (one explode + distinct — the same exploded-token
pass the TF-IDF/rarity operators already make), persisted CLUSTERED BY
token so the lake's min/max file statistics turn any term lookup into
file-pruned reads (sources/lake.py data skipping — the parquet
analogue of a posting-list seek).

Search is then: broadcast the (tiny) term list, semi-join the posting
table on token — file-pruned to the terms' byte ranges — and keep docs
matching ALL terms via a per-doc distinct-term count. One broadcast
join + one aggregate shuffle on doc_id, both proportional to the
POSTINGS OF THE QUERY TERMS, never the corpus.

Tokenization is deliberately the trivial lowercase-whitespace split so
an external engine can reproduce it exactly (the oracle's LIKE-free
twin); swap in `text.normalize`/BPE upstream for linguistic fidelity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import spread

__all__ = ["tokens_expr", "build_token_index", "search_all_terms", "search_any_terms", "doc_token_counts", "bm25_scores", "bm25_scores_fused", "positional_index", "search_phrase"]


def tokens_expr(text_col: str):
    """The index's tokenization (lowercase, split on whitespace runs,
    empties dropped) — exposed so oracles/tests reproduce it."""
    return F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
    )


def build_token_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct (token, doc_id) posting pairs. One projection + explode
    + per-doc distinct; sized by total tokens, shuffle-free until the
    caller repartitions/sorts for persistence. Persist with
    ``LakeTable.save`` after ``repartitionByRange("token")`` +
    ``sortWithinPartitions("token")`` (or ``optimize(cluster_by=
    ["token"])``) so every file's manifest carries a tight token
    min/max — term lookups then read only the files whose range covers
    the term."""
    return (
        spread(docs)
        .select(F.col(id_col), F.explode(F.array_distinct(tokens_expr(text_col))).alias("token"))
    )


def _terms_df(index: DataFrame, terms: list[str]) -> DataFrame:
    if not terms:
        raise ValueError("search needs at least one term")
    return index.sparkSession.createDataFrame(
        [(t.lower(),) for t in terms], "token string"
    )


def search_all_terms(
    index: DataFrame, terms: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Doc ids containing ALL ``terms`` (conjunctive / AND search).
    Broadcast the term list, semi-join postings, keep docs whose
    distinct matched-term count equals ``len(terms)``. Work ∝ postings
    of the query terms."""
    uniq = sorted({t.lower() for t in terms})
    hits = index.join(F.broadcast(_terms_df(index, uniq)), "token")
    return (
        hits.groupBy(id_col)
        .agg(F.count_distinct("token").alias("__matched"))
        .filter(F.col("__matched") == len(uniq))
        .select(id_col)
    )


def search_any_terms(
    index: DataFrame, terms: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Doc ids containing AT LEAST ONE term (disjunctive / OR search),
    with the per-doc matched-term count for ranking."""
    uniq = sorted({t.lower() for t in terms})
    hits = index.join(F.broadcast(_terms_df(index, uniq)), "token")
    return hits.groupBy(id_col).agg(F.count_distinct("token").alias("n_terms"))


def doc_token_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, token, tf) term-frequency postings — the ranked-
    retrieval index (:func:`build_token_index` is its boolean-search
    projection). One explode + one (doc, token) hash aggregate."""
    return (
        spread(docs)
        .select(F.col(id_col), F.explode(tokens_expr(text_col)).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("tf"))
    )


def bm25_scores(
    tf_index: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranked retrieval over a (doc_id, token, tf) index —
    Robertson/Sparck-Jones BM25 with the +1 idf floor (public
    formula):

      idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
      w(t, d) = tf·(k1+1) / (tf + k1·(1 - b + b·len/avgdl))
      score   = Σ_t idf(t) · w(t, d)

    Exactness recipe (the t_lm_score lesson): idf and w each quantize
    to int64 MICRO units immediately (round(x·1e6)); the score is the
    int64 sum of their products (≤ ~4.4e13 per term — no overflow), so
    accumulation order cannot drift and the result hash-matches any
    engine whose ln/division agree at 1e-6 — emitted as
    ``score_micro2`` (units of 1e-12).

    Scale shape: hits = postings of the query terms only (broadcast
    term join); per-doc lengths are one aggregate over the index (at
    100 TB persist them next to the index instead of recomputing);
    document frequencies and corpus stats are term-count-sized and
    broadcast back; the final score is one doc-keyed aggregate over
    the hits. Nothing scans text at query time."""
    uniq = sorted({t.lower() for t in terms})
    lens = tf_index.groupBy(id_col).agg(F.sum("tf").alias("__len"))
    stats = lens.agg(
        F.count("*").alias("__n"), F.sum("__len").alias("__sumlen")
    )
    hits = tf_index.join(F.broadcast(_terms_df(tf_index, uniq)), "token")
    dfreq = hits.groupBy("token").agg(F.count("*").alias("__df"))
    idf = (
        dfreq.crossJoin(F.broadcast(stats))
        .select(
            "token",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
                )
                * 1_000_000
            )
            .cast("long")
            .alias("__idf_u"),
        )
    )
    scored = (
        hits.join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(idf), "token")
        .select(
            id_col,
            (
                F.round(
                    (F.col("tf") * (k1 + 1))
                    / (
                        F.col("tf")
                        + k1
                        * (
                            1
                            - b
                            + b
                            * F.col("__len")
                            / (F.col("__sumlen").cast("double") / F.col("__n"))
                        )
                    )
                    * 1_000_000
                ).cast("long")
                * F.col("__idf_u")
            ).alias("__term_score"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("__term_score").alias("score_micro2"),
        F.count("*").alias("n_terms"),
    )


def bm25_scores_fused(
    docs: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 for the NO-PREBUILT-INDEX case — same formula, same exact
    int64 micro-unit recipe, bit-identical output to
    :func:`bm25_scores` over :func:`doc_token_counts` (pinned by
    ``test_bm25_fused_matches_index_path``), but ONE corpus pass:

    explode → one doc-keyed conditional aggregate (per-doc length and
    per-query-term tf as pivoted columns — the term list is a small
    literal, so the tf columns ride the SAME hash aggregate that
    computes the length) → one metadata-sized stats row (N, Σlen, and
    per-term df) broadcast back. Total: ONE shuffle, no (doc, token)
    index materialization, no self-joins — ~3× faster than building
    the tf index inline and scoring it (which traverses the
    corpus-sized explode once per branch: lengths, hits, df).

    Use :func:`bm25_scores` when a persisted tf index exists (the
    100 TB steady state — query work ∝ the query terms' postings);
    use this form for ad-hoc scoring straight off the text."""
    uniq = sorted({t.lower() for t in terms})
    if not uniq:
        # same guard as the index path (_terms_df) — without it the
        # empty per-term loop leaves score=None and dies AttributeError
        raise ValueError("search needs at least one term")
    ex = spread(docs).select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("token")
    )
    # materialize the doc-count-sized aggregate once: per_doc feeds
    # BOTH the stats row and the scoring join, and without a barrier
    # each branch re-ran the whole corpus tokenize + aggregate (two
    # 32-task explode stages per query at sf0.1, ~9s of duplicated
    # task time). The checkpoint is |docs| narrow rows — exactly the
    # "persist per-doc lengths next to the index" shape the 100 TB
    # steady state wants (see bm25_scores' docstring). Lazy is not
    # deferred under AQE: AdaptiveSparkPlanExec.execute() builds the
    # final plan, so this call runs the corpus tokenize + aggregate
    # shuffle stage itself; only the final stage waits for an action.
    per_doc = ex.groupBy(id_col).agg(
        F.count("*").alias("__len"),
        *[
            F.sum(F.when(F.col("token") == t, 1).otherwise(0)).alias(f"__tf_{i}")
            for i, t in enumerate(uniq)
        ],
    ).localCheckpoint(eager=False)
    stats = per_doc.agg(
        F.count("*").alias("__n"),
        F.sum("__len").alias("__sumlen"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(uniq))
        ],
    )
    j = per_doc.crossJoin(F.broadcast(stats))
    avgdl = F.col("__sumlen").cast("double") / F.col("__n")
    score: Column | None = None
    nterms: Column | None = None
    for i in range(len(uniq)):
        tf = F.col(f"__tf_{i}")
        # identical source expressions to bm25_scores so the IEEE ops
        # (and hence the micro-unit roundings) agree bit for bit
        idf_u = F.round(
            F.log(
                F.lit(1.0)
                + (F.col("__n") - F.col(f"__df_{i}") + 0.5)
                / (F.col(f"__df_{i}") + 0.5)
            )
            * 1_000_000
        ).cast("long")
        w_u = F.round(
            (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * F.col("__len") / avgdl))
            * 1_000_000
        ).cast("long")
        term_s = F.when(tf > 0, w_u * idf_u).otherwise(F.lit(0))
        term_n = F.when(tf > 0, F.lit(1)).otherwise(F.lit(0))
        score = term_s if score is None else score + term_s
        nterms = term_n if nterms is None else nterms + term_n
    return (
        j.select(
            id_col,
            score.alias("score_micro2"),
            nterms.cast("long").alias("n_terms"),
        )
        .filter(F.col("n_terms") > 0)
    )


def positional_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, token, pos) positional postings — phrase-query support.
    ``pos`` is the 0-based position within the FILTERED token stream
    (same tokenization as the boolean/tf indexes), so an external
    engine reproducing the tokenization reproduces the positions."""
    return spread(docs).select(
        F.col(id_col),
        F.posexplode(tokens_expr(text_col)).alias("pos", "token"),
    )


def search_phrase(
    pindex: DataFrame, phrase: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """Exact phrase search: documents where ``phrase``'s tokens occur
    CONSECUTIVELY, with the match count — the classic positional-index
    intersection (public shape: each term i's postings shifted by -i,
    equi-joined on (doc, start)). Work ∝ the phrase terms' postings:
    k-1 keyed joins, no text scanned; a selective lead term prunes the
    chain early. Returns (id, n_occurrences)."""
    terms = [t.lower() for t in phrase]
    if not terms:
        raise ValueError("search_phrase needs at least one token")
    cur = (
        pindex.filter(F.col("token") == terms[0])
        .select(F.col(id_col), F.col("pos").alias("__start"))
    )
    for i, t in enumerate(terms[1:], 1):
        nxt = pindex.filter(F.col("token") == t).select(
            F.col(id_col), (F.col("pos") - i).alias("__start")
        )
        cur = cur.join(nxt, [id_col, "__start"])
    return cur.groupBy(id_col).agg(F.count("*").alias("n_occurrences"))
