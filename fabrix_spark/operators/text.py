"""Text-analysis operators for large-scale training-data pipelines.

All JVM-side (built-in ``pyspark.sql.functions`` only — no Python UDFs
in the hot path), so the whole stage stays inside whole-stage codegen
and scales linearly with partitions: each operator is a narrow
projection over the documents table (no shuffle at all).

The reference has no text operators (its `apply` is unimplemented,
fabrix-core/src/fabrix.rs:617-623); these extend the engine per the
north-star scope (SURVEY.md §7.1 step 8).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import spread

__all__ = [
    "tokens",
    "bpe_like_tokens",
    "token_count",
    "quality_score",
    "repetition_scores",
    "unigram_entropy",
    "ngram_lm_score",
    "top_ngrams",
    "lang_id",
    "fingerprint",
    "token_rarity",
    "prune_rare_tokens",
    "tfidf_top_terms",
    "mask_pii",
    "normalize_text",
    "edit_distance_pairs",
    "chunk_documents",
    "keyword_in_context",
    "STOPWORDS_EN",
    "LANG_STOPWORDS",
    "feature_hash",
    "dsir_weights",
    "bpe_pair_counts",
    "bpe_encode",
    "bpe_train",
    "canonical_url",
    "bpe_apply_merge",
]

# token split on runs of whitespace, after trim (empty-string tokens
# would skew counts)
_WS = r"\s+"

STOPWORDS_EN = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "for"]

# tiny per-language marker lists for the n-gram/stopword language-ID
# heuristic; deterministic tiebreak order = list order below.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "is", "in", "that"],
    "es": ["el", "la", "de", "que", "y", "los", "un", "por"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein", "zu"],
    "fr": ["le", "la", "les", "de", "et", "un", "est", "que"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization as an array column."""
    return F.split(F.trim(text), _WS)


def bpe_like_tokens(text: Column) -> Column:
    """Subword-ish tokenization: word pieces and individual
    punctuation marks as separate tokens (the GPT-style pre-tokenizer
    split ``\\w+|[^\\w\\s]``), as an array column."""
    return F.regexp_extract_all(text, F.lit(r"(\w+|[^\w\s])"), 1)


# PII patterns: emails, international-ish phone numbers, 16-digit
# card-like numbers. Heuristic by design — the standard pre-training
# scrub, not a compliance tool.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d[\d\s().-]{7,}\d",
    "card": r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b",
}


def mask_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "masked",
) -> DataFrame:
    """Replace PII spans with ``<TYPE>`` placeholders and count the
    hits per kind — one narrow regexp pass per pattern."""
    masked = F.col(text_col)
    counts = []
    for kind, pat in PII_PATTERNS.items():
        counts.append(
            F.size(F.regexp_extract_all(masked, F.lit(f"({pat})"), 1)).alias(f"n_{kind}")
        )
        masked = F.regexp_replace(masked, pat, f"<{kind.upper()}>")
    return df.select(F.col(id_col), masked.alias(out_col), *counts)


def normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", out_col: str = "normalized"
) -> DataFrame:
    """Canonical text form for dedup/fingerprinting: lowercase,
    whitespace runs collapsed, outer whitespace trimmed."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.select(F.col(id_col), norm.alias(out_col))


def token_count(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token & character counts per document — narrow, shuffle-free."""
    t = tokens(F.col(text_col))
    return spread(df).select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_unique_tokens"),
        F.length(F.col(text_col)).alias("n_chars_total"),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document-quality features: length, punctuation density,
    stopword ratio, mean token length — the standard pre-training
    corpus filters, all as codegen'd expressions.

    Ratios are rounded to 6 dp so results are reproducible bit-for-bit
    across engines and partitionings.

    Empty-document contract (r17 self-review): a zero-character
    document emits NULL ratios instead of crashing the job —
    ``punct_ratio`` divides by ``n_chars``, and under ANSI mode
    (Spark 4's default) an unguarded 0/0 is a task-killing
    DIVIDE_BY_ZERO, so one empty string in a 100 TB crawl took down
    the whole pass. NULL text propagates NULL everywhere (size/length
    of NULL are NULL under ANSI).
    """
    t = tokens(F.col(text_col))
    n_tok = F.size(t)
    n_chars = F.length(F.col(text_col))
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x)))
    mean_tok_len = (n_chars - (n_tok - F.lit(1))) / n_tok  # chars minus separators
    return spread(df).select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars_total"),
        F.round(F.when(n_chars > 0, n_punct / n_chars), 6).alias("punct_ratio"),
        F.round(F.when(n_tok > 0, n_stop / n_tok), 6).alias("stopword_ratio"),
        F.round(F.when(n_tok > 0, mean_tok_len), 6).alias("mean_token_len"),
    )


def unigram_entropy(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document unigram (word) entropy in nats plus type-token
    ratio — the cheap perplexity proxy used as a corpus-quality filter
    (low entropy = repetitive/templated text, near-max entropy with a
    tiny vocabulary = word soup).

    H = ln(n) − Σ c·ln(c) / n over integer token counts c, so the only
    float ops are ln over small integers and one division — stable to
    far below the 6 dp we round to.

    Scale shape: explode → one hash aggregate on (doc, token) — the
    map-side combine reduces the shuffle to distinct-token cardinality
    — then a per-doc aggregate; no window, no UDF."""
    t = tokens(F.lower(F.col(text_col)))
    toks = spread(df).select(F.col(id_col), F.explode(t).alias("__tok"))
    per_tok = toks.groupBy(id_col, "__tok").agg(F.count("*").alias("__c"))
    return (
        per_tok.groupBy(id_col)
        .agg(
            F.sum("__c").alias("__n"),
            F.count("*").alias("__distinct"),
            F.sum(F.col("__c") * F.log("__c")).alias("__clogc"),
        )
        .select(
            id_col,
            F.col("__n").alias("n_tokens"),
            F.col("__distinct").alias("n_unique_tokens"),
            F.round(F.log("__n") - F.col("__clogc") / F.col("__n"), 6).alias("entropy"),
            F.round(F.col("__distinct") / F.col("__n"), 6).alias("type_token_ratio"),
        )
    )


def ngram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref: DataFrame | None = None,
) -> DataFrame:
    """Per-document bigram language-model score — the CCNet/Gopher
    perplexity-style quality filter: score each document by the mean
    log-probability of its bigrams under an add-one-smoothed bigram LM
    estimated from ``ref`` (default: the corpus itself). Documents far
    below the corpus mean are templated/garbled; far above are
    boilerplate-repetitive.

        P(w2 | w1) = (C(w1 w2) + 1) / (C(w1) + V)

    Determinism recipe: each bigram's ln P quantizes to int64
    micro-nats (round(ln·1e6)) BEFORE summing, so the per-doc sum is
    an order-free integer — the final mean is one division rounded to
    6 dp, identical on any engine/partitioning (the float-sum-order
    trap that plain avg(ln) has).

    Scale shape: explode bigrams (map) → one hash aggregate for the
    LM counts → shuffle join doc-bigrams × counts on the gram (the
    big-side join a real LM scorer does) → per-doc aggregate. A 1-row
    (V, total) frame broadcasts. No UDF, no window, no collect."""
    from pyspark.sql.window import Window

    def bigrams(src_df: DataFrame) -> DataFrame:
        # posexplode + lead window, NOT a transform/element_at HOF
        # chain: higher-order functions evaluate interpreted per
        # element (the d_semdedup lesson) — this form stays inside
        # whole-stage codegen and costs one shuffle on the doc id
        t = tokens(F.lower(F.col(text_col)))
        toks = spread(src_df).select(
            F.col(id_col), F.posexplode(t).alias("__p", "w1")
        )
        w = Window.partitionBy(id_col).orderBy("__p")
        return (
            toks.withColumn("w2", F.lead("w1").over(w))
            .filter(F.col("w2").isNotNull())
            .select(id_col, "w1", "w2")
        )

    big = bigrams(df)
    src = big if ref is None else bigrams(ref).select("w1", "w2")
    big_counts = src.groupBy("w1", "w2").agg(F.count("*").alias("__c12"))
    # C(w1) = Σ_w2 C(w1 w2): re-aggregate the ALREADY-REDUCED bigram
    # table instead of shuffling the raw bigram stream a second time
    uni_counts = big_counts.groupBy("w1").agg(F.sum("__c12").alias("__c1"))
    vocab = uni_counts.agg(F.count("*").alias("__v"))
    scored = (
        big.join(big_counts, ["w1", "w2"], "left")
        .join(uni_counts, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.round(
                F.log(
                    (F.coalesce(F.col("__c12"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("__c1"), F.lit(0)) + F.col("__v")).cast("double")
                )
                * 1_000_000
            )
            .cast("long")
            .alias("__lp_u"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(
            F.sum("__lp_u") / (1_000_000.0 * F.count("*")), 6
        ).alias("avg_logprob"),
    )


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level heavy-hitter word n-grams: the ``k`` most frequent
    n-grams with occurrence and document counts — the standard
    boilerplate-discovery / contamination-audit sweep over a corpus.

    Scale shape: n-gram explode → one hash aggregate keyed on
    (gram, doc) for document counts, re-aggregated by gram (both with
    map-side combine), then a single top-k sort over the distinct-gram
    aggregate (AQE handles the final small ordering). Deterministic
    tie-break: count desc, gram asc."""
    t = tokens(F.lower(F.col(text_col)))
    grams = spread(df).select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(t) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - n),
                    lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
                ),
            ).otherwise(F.array())
        ).alias("gram"),
    )
    per_doc = grams.groupBy("gram", id_col).agg(F.count("*").alias("__c"))
    agg = per_doc.groupBy("gram").agg(
        F.sum("__c").alias("n_occurrences"), F.count("*").alias("n_docs")
    )
    return agg.orderBy(F.desc("n_occurrences"), F.asc("gram")).limit(k)


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-overlap language ID: score each language by marker-token
    hits; argmax with a fixed tiebreak order (dict order of
    LANG_STOPWORDS). Pure expressions — no UDF, no shuffle.

    NULL text predicts NULL (r17 self-review): with NULL scores every
    ``>=`` comparison in the CASE chain is NULL, so every branch fell
    through to the final ``otherwise`` and a NULL document was
    confidently labeled as the LAST declared language ('fr')."""
    t = tokens(F.lower(F.col(text_col)))

    def _score(words: list[str]) -> Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(t, lambda x: F.array_contains(arr, x)))

    scores = {lang: _score(words) for lang, words in LANG_STOPWORDS.items()}
    langs = list(LANG_STOPWORDS)
    # CASE chain: first language (in declared order) with the max score
    expr = None
    for i, lang in enumerate(langs):
        cond = None
        for other in langs[i + 1 :]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        branch = F.lit(lang)
        if cond is None:
            expr = expr.otherwise(branch) if expr is not None else branch
        else:
            expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    out = spread(df).select(
        F.col(id_col),
        F.when(F.col(text_col).isNotNull(), expr).alias("pred_lang"),
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
    )
    return out


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    tf = in-doc term count; idf = ln((N+1)/(df+1)) + 1 (smoothed).
    Two shuffles total — one for (doc, term) counts, one for document
    frequencies (broadcast back) — then a per-doc window for the
    top-k. Deterministic tie-break (score desc, term asc); scores
    rounded to 6dp for cross-engine reproducibility."""
    from pyspark.sql.window import Window

    from .util import spread

    toks = spread(df).select(
        F.col(id_col).alias("__id"), F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )
    tf = toks.groupBy("__id", "term").agg(F.count("*").alias("tf"))
    n_docs = df.select(F.countDistinct(id_col).alias("__n"))
    docfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * (F.log((F.col("__n") + 1) / (F.col("df") + 1)) + 1), 6
            ),
        )
    )
    w = Window.partitionBy("__id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("__id").alias(id_col), "term", "tfidf", "rank")
    )


def token_rarity(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-frequency rarity profile per document — the cheap
    perplexity proxy every pre-training filter stack keeps: documents
    whose tokens are all corpus-rare are usually noise/garble, and
    documents of only ultra-common tokens are boilerplate.

    Per document (all in exact integer arithmetic until one final
    rounded division, so it oracle-checks bit-for-bit):
      * ``n_tokens``          — token occurrences
      * ``mean_token_count``  — mean corpus frequency of its tokens
      * ``min_token_count``   — corpus frequency of its rarest token
      * ``n_hapax``           — tokens occurring exactly once corpus-wide

    Scale shape: one corpus-wide token-count aggregate (shuffle keyed
    on token), one occurrences⋈counts equi-join (same key), one
    per-doc aggregate. No driver-side state, no UDF; vocabulary never
    needs to fit anywhere in memory."""
    from .util import spread

    occ = spread(df).select(
        F.col(id_col).alias("__id"), F.explode(tokens(F.col(text_col))).alias("__t")
    )
    counts = occ.groupBy("__t").agg(F.count("*").alias("__c"))
    return (
        occ.join(counts, "__t")
        .groupBy("__id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum("__c") / F.count("*"), 6).alias("mean_token_count"),
            F.min("__c").alias("min_token_count"),
            F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).alias("n_hapax"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            "mean_token_count",
            "min_token_count",
            "n_hapax",
        )
    )


def prune_rare_tokens(
    df: DataFrame,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Global vocabulary pruning: drop every token occurring fewer
    than ``min_count`` times corpus-wide and stitch the survivors back
    in order — the classic vocab-floor cleanup (typos, hashes, OCR
    junk) run before tokenizer training.

    Output: one row per input document — ``clean_text`` (may be
    empty), ``n_tokens``, ``n_dropped``.

    Scale shape: token-position explode → corpus count aggregate
    (keyed on token) → occurrences⋈counts equi-join on the same key →
    one groupBy(doc) rebuild. The rare set is the LONG TAIL of the
    vocabulary — usually most of it — so unlike boilerplate removal
    (``dedup.remove_common_segments``, which broadcasts its tiny hot
    set) this join must stay a keyed shuffle, never a broadcast."""
    from .util import spread

    occ = spread(df).select(
        F.col(id_col).alias("__id"),
        F.posexplode(tokens(F.col(text_col))).alias("__pos", "__t"),
    )
    counts = occ.groupBy("__t").agg(F.count("*").alias("__c"))
    joined = occ.join(counts, "__t")
    rebuilt = joined.groupBy("__id").agg(
        F.count("*").alias("n_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__c") >= min_count, F.struct("__pos", "__t"))
                    )
                ),
                lambda s: s["__t"],
            ),
        ).alias("clean_text"),
        F.sum(F.when(F.col("__c") < min_count, 1).otherwise(0)).alias("n_dropped"),
    )
    ids = df.select(F.col(id_col).alias("__id"))
    return ids.join(rebuilt, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Collation fingerprint (sorted distinct lowercase tokens → md5) —
    the classic key-collision document fingerprint; two documents with
    the same token multiset modulo order/duplicates collide.

    NULL text fingerprints as NULL (r17 self-review): ``concat_ws``
    renders a NULL array as the empty string, so NULL-text documents
    silently collided with genuinely-empty documents under one dedup
    key — a missing-content row is not evidence of duplication."""
    t = F.array_sort(F.array_distinct(tokens(F.lower(F.trim(F.col(text_col))))))
    return spread(df).select(
        F.col(id_col),
        F.when(
            F.col(text_col).isNotNull(), F.md5(F.concat_ws(" ", t).cast("binary"))
        ).alias("fingerprint"),
    )


def repetition_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1
    — public methodology): documents dominated by a few repeated
    words/n-grams are boilerplate or spam and get filtered before
    training.

    Per document:
      * ``top_word_frac``      — occurrences of the most frequent token
                                 / total tokens
      * ``dup_word_frac``      — 1 − distinct/total tokens
      * ``dup_bigram_char_frac`` — characters covered by word-bigrams
                                 occurring more than once / characters
                                 in all bigrams (tie-free: a summed
                                 metric, no argmax)

    Scale shape: explode → two hash aggregates keyed by (doc, gram) —
    map-side combine keeps the shuffle at distinct-gram cardinality;
    everything is deterministic integer arithmetic, rounded once."""
    t = tokens(F.lower(F.col(text_col)))
    base = spread(df).select(F.col(id_col), t.alias("__toks"))

    grams = base.select(
        id_col,
        F.size("__toks").alias("__n"),
        F.explode(
            F.when(
                F.size("__toks") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("__toks") - 2),
                    lambda i: F.concat_ws(" ", F.slice("__toks", i + 1, 2)),
                ),
            ).otherwise(F.array(F.concat_ws(" ", "__toks")))
        ).alias("__gram"),
    )
    per_gram = grams.groupBy(id_col, "__gram", "__n").agg(F.count("*").alias("__c"))
    bigram_stats = per_gram.groupBy(id_col).agg(
        F.sum(F.length("__gram") * F.col("__c")).alias("__chars_all"),
        F.sum(
            F.when(F.col("__c") > 1, F.length("__gram") * F.col("__c")).otherwise(0)
        ).alias("__chars_dup"),
    )

    toks = base.select(id_col, F.size("__toks").alias("__n"), F.explode("__toks").alias("__tok"))
    per_tok = toks.groupBy(id_col, "__tok", "__n").agg(F.count("*").alias("__c"))
    tok_stats = per_tok.groupBy(id_col, "__n").agg(
        F.max("__c").alias("__top"), F.count("*").alias("__distinct")
    )

    # guards (r17 self-review): a zero-token document (empty text
    # splits to one "" token, so __n > 0 holds for non-null text, but
    # NULL text reaches here as __n NULL) and an all-empty-gram doc
    # (__chars_all = 0 for empty text) must emit NULL, not crash the
    # job under ANSI mode's DIVIDE_BY_ZERO
    return (
        tok_stats.join(bigram_stats, id_col)
        .select(
            id_col,
            F.round(F.when(F.col("__n") > 0, F.col("__top") / F.col("__n")), 6).alias(
                "top_word_frac"
            ),
            F.round(
                F.when(F.col("__n") > 0, 1 - F.col("__distinct") / F.col("__n")), 6
            ).alias("dup_word_frac"),
            F.round(
                F.when(
                    F.col("__chars_all") > 0,
                    F.col("__chars_dup") / F.col("__chars_all"),
                ),
                6,
            ).alias("dup_bigram_char_frac"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
    block,
    max_dist: int = 2,
) -> DataFrame:
    """Blocked edit-distance self-join — the record-linkage/entity-
    resolution primitive (near-identical identifiers, fat-fingered
    keys): candidate pairs must share the ``block`` key (a column name
    or Column expression — the classic blocking step that keeps the
    join an equi-join instead of a cross product), pass a length
    pre-filter (|len(a)-len(b)| > max_dist can never match — pruned
    before any distance is computed), and verify with exact
    levenshtein <= ``max_dist``.

    Scale: one shuffle on the block key; cost is Σ block² × distance,
    so choose blocks the way LSH bands are chosen — small and many.
    Levenshtein is a JVM built-in on both engines with identical
    semantics, so the pair set is fully oracled. The verify uses the
    BANDED form ``levenshtein(l, r, max_dist)`` — O(k·min_len) per
    pair instead of O(len²), early-exiting wildly-different pairs.
    DuckDB has no threshold argument, but parity is unaffected (the
    r14 fuzzy_pairs lesson superseding the r6 note here): within the
    band the returned distance is EXACT, and every emitted row is
    within the band by the ``<= max_dist`` contract, so the -1
    over-band sentinel only ever marks rows both engines drop.

    Returns (a_id, b_id, edit_distance) with a_id < b_id."""
    blk = F.col(block) if isinstance(block, str) else block
    # spread (r17): a small parquet table is one input split, and the
    # block self-join broadcasts one side — so the ENTIRE candidate
    # verify (block² banded-levenshtein evaluations) ran as ONE task
    # regardless of core count (measured 14.7 s single-task at sf0.1;
    # the stage read "(0 + 1) / 1"). Scattering the narrow
    # (id, string, block) projection fans the verify across every
    # core; at real scale the input already has more splits than
    # cores and spread is a no-op by construction (guide §2.5 input
    # skew / §2.6 idle capacity).
    sides = spread(
        df.select(
            F.col(id_col).alias("__id"), F.col(col).alias("__s"), blk.alias("__blk")
        )
    )
    a = sides.select(
        F.col("__id").alias("a_id"), F.col("__s").alias("__a"), "__blk"
    )
    b = sides.select(
        F.col("__id").alias("b_id"), F.col("__s").alias("__b"), "__blk"
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            F.abs(F.length("__a") - F.length("__b")) <= F.lit(max_dist)
        )
        .select(
            "a_id",
            "b_id",
            F.expr(f"levenshtein(__a, __b, {int(max_dist)})").alias(
                "edit_distance"
            ),
        )
        # banded levenshtein returns -1 past the band, so >= 0 alone
        # implies <= max_dist; the second predicate was a redundant
        # re-evaluation of the DP inside the join condition (r17 —
        # the optimizer collapses this filter into the join, where
        # each predicate is a separate levenshtein call per
        # candidate pair)
        .filter(F.col("edit_distance") >= 0)
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    RAG-indexing / pretraining-example chunker: windows of
    ``chunk_tokens`` tokens advancing ``chunk_tokens - overlap`` per
    step, the final window anchored so no suffix is lost. Pure column
    expressions (token array → start sequence → slice per start), so
    chunking a 100 TB corpus is a map-only pass with no UDF and no
    shuffle; deterministic, hence fully oracle-able.

    Returns (id_col, chunk_idx, n_chunk_tokens, chunk_text)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    t = tokens(F.col(text_col))
    n = F.size(t)
    # number of windows: 1 if the doc fits, else 1 + ceil((n-chunk)/step)
    extra = F.ceil((n - F.lit(chunk_tokens)).cast("double") / F.lit(step)).cast("int")
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(F.lit(1) + extra)
    starts = F.sequence(F.lit(0), (n_chunks - 1) * F.lit(step), F.lit(step))
    chunks = F.transform(
        starts, lambda s: F.slice(t, s + 1, F.lit(chunk_tokens))
    )
    return (
        df.select(F.col(id_col), chunks.alias("__chunks"))
        .select(F.col(id_col), F.posexplode("__chunks").alias("chunk_idx", "__toks"))
        .select(
            id_col,
            "chunk_idx",
            F.size("__toks").alias("n_chunk_tokens"),
            F.concat_ws(" ", F.col("__toks")).alias("chunk_text"),
        )
    )


def keyword_in_context(
    df: DataFrame,
    keyword: str,
    before: int = 30,
    width: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """KWIC concordance extraction: for every document containing
    ``keyword``, the 1-based position of its first occurrence and a
    fixed-width snippet starting ``before`` characters earlier
    (clamped at the document start). The corpus-inspection primitive
    behind "show me how this term is used" — map-only column
    expressions (locate + substring), no UDF, no shuffle.

    Returns (id_col, pos, snippet)."""
    width = width if width is not None else before * 2 + len(keyword)
    pos = F.locate(keyword, F.col(text_col))
    start = F.greatest(F.lit(1), pos - F.lit(before))
    return (
        df.filter(pos > 0)
        .select(
            F.col(id_col),
            pos.cast("long").alias("pos"),
            F.substring(F.col(text_col), start, F.lit(width)).alias("snippet"),
        )
    )


def feature_hash(
    df: DataFrame,
    dim: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
    carry: list[str] | None = None,
) -> DataFrame:
    """Feature hashing (the hashing trick, public methodology behind
    hashingTF/fastText input features): every token maps to
    ``md5-hash(token) mod dim`` and the document becomes the sparse
    count triple (id, feature, cnt) — the fixed-width featurization a
    quality/topic classifier trains on without a vocabulary build or
    a driver-side dictionary.

    The hash is the repo's engine-independent md5 recipe (identical in
    any system with md5 — the oracle computes the same buckets), NOT a
    JVM-internal hash. One explode + one (id, feature) map-combined
    aggregate; output size ≤ min(doc tokens, dim) rows per doc. Feed
    a dense assembler downstream if the trainer wants arrays.

    ``carry`` rides extra per-document columns (a class label, a
    split tag) through the tokenize pass — functionally dependent on
    the id by contract, so grouping by them costs nothing and saves
    the doc-keyed join a supervised trainer would otherwise pay."""
    from .search import tokens_expr

    extra = list(carry or [])
    tok = F.explode(tokens_expr(text_col)).alias("__t")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("__t"), F.lit(salt)).cast("binary")), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return (
        df.select(F.col(id_col), *extra, tok)
        .select(id_col, *extra, (h % dim).cast("int").alias("feature"))
        .groupBy(id_col, *extra, "feature")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    dim: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling — Xie et al. 2023, public methodology): score every raw
    document by how much more likely its hashed token features are
    under a TARGET corpus (the domain you want more of) than under the
    raw corpus itself,

        log w(d) = Σ_f c_f(d) · [ln p_tgt(f) − ln p_src(f)]

    over ``dim`` hashed buckets with add-one smoothing
    (``p(f) = (c_f + 1) / (N + dim)``). Ranking raw documents by this
    weight and keeping the top mass IS importance resampling's
    selection step — the pretraining-data curation pass that upsamples
    target-like documents out of a 100 TB crawl.

    Determinism recipe: each bucket's log-ratio quantizes to int64
    micro-nats BEFORE the per-document sum (the ngram_lm_score recipe
    — order-free integer sums, one final division) and buckets come
    from the engine-independent md5 hash (:func:`feature_hash`), so
    weights hash-verify cross-engine.

    Scale shape: ONE tokenize pass over the raw corpus and one over
    the (typically far smaller) target (each is feature_hash's explode
    + (id, feature) map-combined aggregate); both bucket distributions
    reduce from the ALREADY-AGGREGATED feature tables to ≤ dim rows;
    scoring broadcasts the dim-sized log-ratio table back onto the
    per-document features. No window, no collect, no UDF.

    Returns (id_col, n_tokens, logw_micro, logw_per_token) — the raw
    integer micro-nat weight plus a length-normalized variant (long
    documents accumulate more evidence; per-token is the fair rank
    key across lengths)."""
    feats = feature_hash(df, dim=dim, text_col=text_col, id_col=id_col)
    tgt_feats = feature_hash(target, dim=dim, text_col=text_col, id_col=id_col)
    src_tot = feats.groupBy("feature").agg(F.sum("cnt").alias("__cs"))
    tgt_tot = tgt_feats.groupBy("feature").agg(F.sum("cnt").alias("__ct"))
    # bucket tables are ≤ dim rows; the union + re-aggregate keeps
    # buckets that only one distribution observed (a target that is
    # NOT a subset of df) without any join — a full-outer here would
    # compile to a SortMergeJoin, which the plan pin refuses
    dists = (
        src_tot.select("feature", "__cs", F.lit(0).cast("long").alias("__ct"))
        .unionByName(
            tgt_tot.select(
                "feature", F.lit(0).cast("long").alias("__cs"), "__ct"
            )
        )
        .groupBy("feature")
        .agg(F.sum("__cs").alias("__cs"), F.sum("__ct").alias("__ct"))
    )
    totals = dists.agg(F.sum("__cs").alias("__ns"), F.sum("__ct").alias("__nt"))
    ratio = dists.crossJoin(F.broadcast(totals)).select(
        "feature",
        F.round(
            (
                F.log(
                    (F.col("__ct") + 1).cast("double")
                    / (F.col("__nt") + dim).cast("double")
                )
                - F.log(
                    (F.col("__cs") + 1).cast("double")
                    / (F.col("__ns") + dim).cast("double")
                )
            )
            * 1_000_000
        )
        .cast("long")
        .alias("__lr_u"),
    )
    scored = feats.join(F.broadcast(ratio), "feature")
    # logw_per_token stays UNROUNDED: it is one int/int division of
    # exact integers (identical doubles on any engine), and micro-nat
    # sums land on exact half-boundaries at 6 dp where engines round
    # apart (hit at sf0.1: -13965/14 µnats = -997.5·10⁻⁶ per token)
    return scored.groupBy(id_col).agg(
        F.sum("cnt").alias("n_tokens"),
        F.sum(F.col("cnt") * F.col("__lr_u")).alias("logw_micro"),
        (
            F.sum(F.col("cnt") * F.col("__lr_u")) / (1_000_000.0 * F.sum("cnt"))
        ).alias("logw_per_token"),
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 20,
) -> DataFrame:
    """One BPE merge iteration (Sennrich et al. 2016, the public
    byte-pair-encoding algorithm): the corpus collapses to a
    word-frequency table, every word contributes its adjacent
    character pairs weighted by word frequency, and the top pairs by
    weighted count are the next merges a tokenizer trainer would take.

    The scale shape is the one production BPE trainers use: the ONLY
    corpus-sized pass is the word-count aggregate (map-side combined,
    output ∝ |vocab| not |corpus|); pair explosion and counting run
    over the vocab-sized table (≤ |vocab| · max word length rows), and
    the final ranking window orders a table bounded by the pair
    alphabet (≤ 26² rows for [a-z] words) — metadata-sized by
    construction, so the unpartitioned row_number is not a scale
    concern. Words are restricted to ``^[a-z]{2,}$`` so the symbol
    inventory (and the oracle's substring semantics) stay
    engine-independent."""
    from pyspark.sql.window import Window

    words = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .filter(F.col("word").rlike("^[a-z]{2,}$"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "freq",
    )
    agg = pairs.groupBy("pair").agg(F.sum("freq").alias("merge_count"))
    w = Window.orderBy(F.col("merge_count").desc(), F.col("pair").asc())
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select("pair", "merge_count", "rank")
    )


def bpe_apply_merge(symbols: Column, left: str, right: str) -> Column:
    """Replace every non-overlapping left-to-right occurrence of the
    adjacent pair ``(left, right)`` in a symbol array with the merged
    token ``left+right`` — the in-word step of one BPE merge. A fold
    (``F.aggregate``) gives the exact greedy semantics: after a merge
    the accumulator's tail is ``left+right``, which can never equal
    ``left`` (``right`` is non-empty), so a merged token is never
    itself consumed as the left half of another merge in the same
    pass. Interpreted HOF — call only on vocab-sized tables."""
    merged = left + right
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


#: query parameters that never affect content — the standard crawler
#: strip list (Google Analytics & click-id trackers)
_TRACKING_PARAM_PREFIXES = ("utm_", "gclid=", "fbclid=", "msclkid=", "mc_eid=")


def canonical_url(url: Column) -> Column:
    """Crawler-standard URL canonicalization as one JVM expression —
    the normalize-before-dedup step of every web-curation pipeline:

    - scheme and host lowercased (path/query case preserved);
    - fragment stripped;
    - default ports dropped (``:80`` for http, ``:443`` for https);
    - tracking parameters removed (``utm_*`` and click-ids);
    - remaining query parameters SORTED (binary order) so
      ``?b=2&a=1`` and ``?a=1&b=2`` collapse;
    - empty query dropped entirely; an empty path becomes ``/``.

    PRECONDITION: the input must be an absolute URL carrying a
    ``://`` scheme separator. Schemeless/relative inputs (real crawl
    tables contain them) pass through UNCHANGED — without the guard,
    ``substring_index(pre, '://', 1)`` would return the whole string
    as the "scheme" and emit a corrupted duplicated key, so two
    spellings of one relative URL would no longer collapse. Callers
    wanting to canonicalize relative links should resolve them against
    a base URL first. NULL in → NULL out.

    Built-in functions only (substring_index / filter / array_sort /
    array_join) — no UDF, fully pushdown-safe, and every step has an
    ANSI-SQL twin, so canonicalized keys hash-verify cross-engine."""
    no_frag = F.substring_index(url, "#", 1)
    pre = F.substring_index(no_frag, "?", 1)
    query = F.when(
        F.instr(no_frag, "?") > 0,
        no_frag.substr(F.instr(no_frag, "?") + F.lit(1), F.length(no_frag)),
    )
    scheme = F.lower(F.substring_index(pre, "://", 1))
    hostpath = F.substring_index(pre, "://", -1)
    host = F.lower(F.substring_index(hostpath, "/", 1))
    path = F.when(
        F.instr(hostpath, "/") > 0,
        hostpath.substr(F.instr(hostpath, "/"), F.length(hostpath)),
    ).otherwise(F.lit("/"))
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )

    def _keep(p: Column) -> Column:
        dropped = p == ""
        for pre_ in _TRACKING_PARAM_PREFIXES:
            dropped = dropped | p.startswith(pre_)
        return ~dropped

    kept = F.filter(F.split(query, "&"), _keep)
    cq = F.array_join(F.array_sort(kept), "&")
    tail = F.when(
        query.isNotNull() & (F.size(kept) > 0), F.concat(F.lit("?"), cq)
    ).otherwise(F.lit(""))
    # schemeless guard: no '://' before the first '?'/'#' → not an
    # absolute URL → pass through (a '://' inside a query parameter or
    # fragment, e.g. '/redirect?to=http://x', does not make the input
    # absolute; see PRECONDITION above; fuzzed in test_properties)
    return F.when(F.instr(pre, "://") == 0, url).otherwise(
        F.concat(scheme, F.lit("://"), host, path, tail)
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode a corpus with a trained BPE merge table
    (:func:`bpe_train`'s artifact) — the inference half of the
    tokenizer story. Returns one row per emitted subword token:
    ``(id_col, word_pos, sym_pos, token)`` with deterministic
    positions (word order within the document, symbol order within
    the word), so downstream counts/arrays rebuild without ties.

    Scale shape (how production encoders run): the merge loop never
    touches the corpus — merges apply to the DISTINCT-WORD VOCAB
    (``k`` vocab-sized passes of :func:`bpe_apply_merge`, plan kept
    flat by a ``localCheckpoint`` every 8 merges and after the last),
    and the corpus meets the result once, via a word equi-join that
    broadcasts the encoded vocab (a word→symbols map is bounded by the
    vocabulary, not the corpus). The hint is what keeps the corpus
    unshuffled: a ``localCheckpoint`` carries its source plan's size
    ESTIMATE, not its true size (exabytes for this distinct-over-
    explode vocab), so unhinted, a corpus past the broadcast threshold
    gets a sort-merge join that shuffles every corpus row. Words are
    restricted to ``^[a-z]{2,}$`` exactly as :func:`bpe_train` — the
    trainer and encoder must agree on the pre-tokenizer.

    The corpus is ``spread()`` before tokenizing: the explode + regex
    filter is CPU-bound per-row work, and a small parquet input is one
    split → one task without it (a no-op at real scale, where inputs
    arrive with thousands of splits — measured 5× on the sf0.1
    tokenize pass)."""
    corpus = spread(df).select(
        id_col,
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("word_pos", "word"),
    ).filter(F.col("word").rlike("^[a-z]{2,}$"))
    vocab = corpus.select("word").distinct()
    syms = vocab.select(
        "word",
        F.array_remove(F.split(F.col("word"), "(?!^)"), "").alias("symbols"),
    )
    for i, (left, right) in enumerate(merges, 1):
        syms = syms.withColumn(
            "symbols", bpe_apply_merge(F.col("symbols"), left, right)
        )
        # ALWAYS end the loop on a checkpoint, not only every 8
        # merges: the final posexplode(symbols) makes Catalyst infer
        # `size(symbols) > 0 AND isnotnull(symbols)`, and because
        # `word` is the vocab aggregate's grouping key the inferred
        # filter is pushed BELOW the distinct — the whole k-merge fold
        # was re-evaluated twice per CORPUS OCCURRENCE instead of once
        # per distinct word (measured 24 s of the encode stage's 28 s
        # task time at sf0.1; the checkpoint is a vocab-sized barrier
        # the predicate cannot cross).
        if i % 8 == 0 or i == len(merges):
            syms = syms.localCheckpoint()
    return corpus.join(F.broadcast(syms), "word").select(
        id_col,
        "word_pos",
        F.posexplode("symbols").alias("sym_pos", "token"),
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
    min_freq: int = 2,
) -> DataFrame:
    """Multi-iteration BPE tokenizer training (Sennrich et al. 2016 —
    the public byte-pair-encoding algorithm), the full loop over
    :func:`bpe_pair_counts`' single step. Returns the learned merge
    table ``(iteration, left, right, freq)`` in merge order — the
    artifact a tokenizer ships.

    Scale shape (what production BPE trainers do): the ONLY
    corpus-sized pass is the initial word-frequency aggregate
    (map-side combined, output ∝ |vocab|, not |corpus|). Every
    iteration then runs on the vocab-sized symbol table: one
    pair-count aggregate (adjacent pairs via posexplode semantics,
    weighted by word freq — overlapping pairs counted, the classic
    ``get_stats``), one deterministic arg-max (``orderBy().limit(1)``
    compiles to TakeOrdered — no global sort shuffle; ties break on
    (freq desc, left asc, right asc) so results are engine- and
    partitioning-independent), and one fold applying the merge
    (:func:`bpe_apply_merge`). Driver traffic is ONE row per
    iteration; ``localCheckpoint`` per iteration keeps the plan flat
    (the Pregel hygiene used by PageRank/BFS/CC). Stops early when the
    best pair's weighted count drops below ``min_freq``.

    Words are restricted to ``^[a-z]{2,}$`` (as bpe_pair_counts) so
    the symbol inventory stays engine-independent for oracles."""
    words = (
        spread(df)
        .select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .filter(F.col("word").rlike("^[a-z]{2,}$"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    # split(word, regex) keeps trailing empty strings (Java split with
    # limit -1) — the zero-width split leaves one "" after the last
    # char, which must not become a symbol
    syms = words.select(
        F.array_remove(F.split(F.col("word"), "(?!^)"), "").alias("symbols"),
        F.col("freq"),
    ).localCheckpoint()

    spark = df.sparkSession
    merges: list[tuple[int, str, str, int]] = []
    for it in range(n_merges):
        # NOTE sequence(1, 0) is DESCENDING [1, 0] in Spark, so words
        # that collapsed to one symbol must be excluded before the
        # transform, not left to emit null-field pairs
        pairs = (
            syms.filter(F.size("symbols") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(symbols) - 1),"
                        " i -> struct(symbols[i-1] AS l, symbols[i] AS r))"
                    )
                ).alias("p"),
                "freq",
            )
        )
        best = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_freq:
            break
        left, right, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((it, left, right, cnt))
        syms = syms.select(
            bpe_apply_merge(F.col("symbols"), left, right).alias("symbols"),
            "freq",
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "iteration int, left string, right string, freq long"
    )
