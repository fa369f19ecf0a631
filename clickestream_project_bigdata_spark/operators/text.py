"""Document-corpus operators over the ``documents`` input: per-document
stats and quality score, language-ID heuristic, fingerprint, n-gram and
term statistics (n-gram counts, TF-IDF, token frequencies, collocations,
skip-gram PMI, distinctive terms, per-source vocabulary overlap), lexical
diversity (type-token ratio, vocabulary growth over a distributed prefix
sum), repetition, chunking and single-query similarity.

Not present in the reference (its only text handling is event-string
routing). No pipeline, streaming or perfbench module imports this module;
only the ``__spark_entry__`` registry and the tests reach it. Every
operator is built from Catalyst expressions over a whitespace-split token
column, with no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Tiny English stopword list (public-domain common words). Deterministic and
#: mirrored verbatim in the DuckDB oracle.
STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that",
]

#: Marker words for the language-ID heuristic, per candidate language.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "this"],
    "es": ["el", "la", "de", "que", "es"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}

PUNCT_CLASS = "[.,!?;:]"


def tokens_col(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def _count_in(tokens: Column, words: list[str]) -> Column:
    wordlist = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(wordlist, t)))


def text_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document stats + a deterministic quality score.

    quality = 0.5·min(tokens/50, 1) + 0.3·(1 − stopword_ratio) + 0.2·(1 − punct_ratio)
    — a length/punct/stopword composite in [0,1] of the kind used for corpus
    filtering; the exact formula matters only in that it is reproducible.
    ``keep`` passes extra columns through (so downstream rollups ride the
    same scan instead of re-joining on the id).
    """
    t = F.col("__tokens")
    df = docs.withColumn("__tokens", tokens_col(F.col(text_col)))
    token_count = F.size(t)
    char_count = F.length(F.col(text_col))
    punct_count = char_count - F.length(F.regexp_replace(F.col(text_col), PUNCT_CLASS, ""))
    stop_count = _count_in(t, STOPWORDS)
    stop_ratio = stop_count.cast("double") / token_count
    punct_ratio = punct_count.cast("double") / char_count
    quality = (
        F.lit(0.5) * F.least(token_count.cast("double") / 50, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.2) * (F.lit(1.0) - punct_ratio)
    )
    return df.select(
        F.col(id_col),
        *[F.col(k) for k in keep],
        token_count.cast("long").alias("token_count"),
        char_count.cast("long").alias("char_count"),
        stop_count.cast("long").alias("stopword_count"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(quality, 6).alias("quality_score"),
    )


def lang_id(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """N-gram-style language-ID heuristic: count marker-word hits per
    candidate language, predict the argmax (ties broken by language code
    order, 'unknown' when nothing matches). ``keep`` passes extra columns
    through the same scan (no re-join on the id), as in ``text_stats``."""
    df = docs.withColumn("__tokens", tokens_col(F.col(text_col)))
    t = F.col("__tokens")
    langs = sorted(LANG_MARKERS)
    # stage per-language scores, then the max, as projected columns: the
    # pred chain references each score twice and the max once per branch,
    # and inlined that re-runs every token-filter fold per reference
    scored = df.select(
        F.col(id_col),
        *[F.col(k) for k in keep],
        *[_count_in(t, LANG_MARKERS[lang]).alias(f"__s_{lang}") for lang in langs],
    ).withColumn("__best", F.greatest(*[F.col(f"__s_{lang}") for lang in langs]))
    pred = F.lit("unknown")
    for lang in reversed(langs):  # earlier lang wins ties → build from the back
        pred = F.when(F.col(f"__s_{lang}") == F.col("__best"), F.lit(lang)).otherwise(pred)
    pred = F.when(F.col("__best") == 0, F.lit("unknown")).otherwise(pred)
    return scored.select(F.col(id_col), *keep, pred.alias("predicted_lang"))


def word_ngrams_col(toks: Column, n: int) -> Column:
    """Array of space-joined word n-grams of a token array. Short-doc
    guard: size<n would make the sequence descend and element_at go out
    of range; such docs yield an empty array (so an explode simply drops
    them)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_counts(
    docs: DataFrame, n: int = 2, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide top-k word n-grams (vocabulary statistics for corpus
    curation). Explode → count → top-k with deterministic tiebreak; the
    count aggregates map-side, so the shuffle carries one row per distinct
    n-gram per partition — not per occurrence."""
    toks_df = docs.select(tokens_col(F.col(text_col)).alias("__toks"))
    grams = toks_df.select(
        F.explode(word_ngrams_col(F.col("__toks"), n)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("occurrences"))
        .orderBy(F.desc("occurrences"), F.asc("ngram"))
        .limit(k)
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — the classic keyword extraction
    / corpus-indexing pass. ``idf = ln((N+1)/(df+1)) + 1`` (smoothed, always
    positive), ``tfidf = tf · idf`` rounded to 6 decimals for cross-engine
    reproducibility; ties break term-ASC so the top-k is deterministic.

    Output: (id_col, term, tf, tfidf, rank), rank 1..k.

    Scale shape: explode → groupBy(doc, term) with map-side combine (one
    shuffle of distinct doc-terms, not occurrences) → document frequency
    as a count over a per-term WINDOW on that same frame (one exchange on
    term; the corpus is tokenized exactly once — an aggregate-and-join-back
    form re-scans and re-explodes the whole corpus for the DF table) → one
    window per doc for the top-k. The raw text is never shuffled.
    """
    tf = (
        docs.select(F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = docs.select(F.count("*").alias("__n"))
    wdf = Window.partitionBy("term")
    scored = (
        tf.withColumn("__df", F.count("*").over(wdf))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("__n") + 1.0) / (F.col("__df") + 1.0))
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", F.col("rank").cast("int").alias("rank"))
    )


def repetition_score(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Intra-document repetition: the fraction of word ``n``-grams that are
    repeats of an earlier gram in the same doc
    (``1 − distinct/total``) — the duplicated-boilerplate signal quality
    filters threshold on (high ratio ⇒ templated/spammy text).

    Output: (id_col, n_grams, n_distinct, repetition_ratio). Docs shorter
    than ``n`` tokens have no grams: ratio 0. Pure per-row array math —
    no shuffle, no Python.

    The token and gram arrays are staged through intermediate projections:
    inlining ``tokens_col`` into every ``element_at`` of the gram transform
    re-tokenizes the document once PER GRAM TERM, and referencing the gram
    expression twice (size + array_distinct) doubles it again — measured
    ~20x slower."""
    return docs.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("__toks")
    ).select(
        F.col(id_col), word_ngrams_col(F.col("__toks"), n).alias("__grams")
    ).select(
        F.col(id_col),
        F.size("__grams").cast("long").alias("n_grams"),
        F.size(F.array_distinct("__grams")).cast("long").alias("n_distinct"),
    ).select(
        id_col,
        "n_grams",
        "n_distinct",
        F.when(
            F.col("n_grams") > 0,
            F.round(1.0 - F.col("n_distinct") / F.col("n_grams"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("repetition_ratio"),
    )


def chunk_documents(
    docs: DataFrame,
    max_tokens: int = 512,
    overlap: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into whitespace-token chunks of at most
    ``max_tokens`` tokens, consecutive chunks sharing ``overlap`` tokens —
    the context-windowing pass in front of embedding / pretraining.

    Output: (id_col, chunk_id, n_tokens, chunk_text); chunk_id is 0-based
    within the doc; chunk_text re-joins tokens with single spaces
    (whitespace is normalized by construction). Empty docs yield no rows.

    Whole-stage-codegen shape: tokenize → compute the chunk count
    arithmetically → posexplode a per-doc sequence → slice the token
    array. No shuffle at all; linear in tokens.
    """
    assert 0 <= overlap < max_tokens
    stride = max_tokens - overlap
    toks = tokens_col(F.col(text_col))
    ntok = F.size("__toks")
    # sliding windows of max_tokens advancing by stride; the LAST window is
    # the one that reaches the end, so a doc shorter than max_tokens is one
    # chunk and no trailing pure-overlap chunk is emitted
    nchunks = (
        F.lit(1)
        + F.ceil(F.greatest(ntok - max_tokens, F.lit(0)).cast("double") / stride).cast(
            "int"
        )
    )
    return (
        docs.select(F.col(id_col), toks.alias("__toks"))
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.posexplode(
                F.when(ntok >= 1, F.sequence(F.lit(0), nchunks - 1)).otherwise(
                    F.array().cast("array<int>")
                )
            ).alias("chunk_id", "__i"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.slice(
                F.col("__toks"), F.col("chunk_id") * stride + 1, max_tokens
            ).alias("__chunk"),
        )
        .select(
            F.col(id_col),
            "chunk_id",
            F.size("__chunk").cast("long").alias("n_tokens"),
            F.concat_ws(" ", "__chunk").alias("chunk_text"),
        )
    )


def similar_docs_topk(
    docs: DataFrame,
    query_id: int,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact token-Jaccard top-``k`` against the document ``query_id``:
    find-similar-docs by lexical overlap (dup triage, related-content
    lookup).

    Output: (id_col, jaccard), score DESC / id ASC — a total order, so the
    top-k set is deterministic. Scale shape: the query's token set is a
    1-row broadcast; the corpus side is one scan computing a per-row set
    intersection, then TakeOrderedAndProject — no shuffle of the corpus,
    same plan at any corpus size. This is the single-query form; the
    package has no all-pairs similarity join.

    If ``query_id`` is absent from ``docs``, the broadcast query side is
    empty and the result is an EMPTY frame — indistinguishable from "no
    similar docs". Validate the id upstream (or check ``q.count()``)
    when the distinction matters; the operator stays lazy/declarative on
    purpose and does not pay a driver-side existence check per call."""
    toks = docs.select(
        F.col(id_col), F.array_distinct(tokens_col(F.col(text_col))).alias("__toks")
    )
    q = toks.filter(F.col(id_col) == query_id).select(
        F.col("__toks").alias("__qtoks")
    )
    union_size = F.size(F.array_union(F.col("__toks"), F.col("__qtoks")))
    jac = F.when(union_size > 0,
                 F.size(F.array_intersect(F.col("__toks"), F.col("__qtoks")))
                 .cast("double") / union_size).otherwise(F.lit(0.0))
    return (
        toks.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), F.round(jac, 6).alias("jaccard"))
        .orderBy(F.desc("jaccard"), F.asc(id_col))
        .limit(k)
    )


def token_frequencies(
    docs: DataFrame, k: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-level term frequencies, top-``k`` (the Zipf profile): the
    aggregation behind tokenizer/BPE vocabulary work and stopword-list
    tuning. Output (token, n_occurrences, n_docs), count DESC / token ASC
    — a total order, deterministic top-k.

    Scale shape: explode tokens with their doc id, then ONE token-keyed
    aggregation computing count + count_distinct(doc) together (the
    count_distinct Expand doubles pre-shuffle rows, but partial
    aggregation collapses them map-side — measured faster than a
    two-level (token, doc)→(token) rollup, which pays a second full
    exchange; see duplicate_spans for the same trade), then
    TakeOrderedAndProject for the top-k."""
    exploded = docs.select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("token")
    ).filter(F.col("token") != "")
    return (
        exploded.groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct(F.col(id_col)).alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(k)
    )


def collocations(
    docs: DataFrame,
    k: int = 100,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Adjacent-token collocation mining (the word2phrase / phrase-vocab
    induction signal): top-``k`` bigrams by pointwise mutual information,
    PMI = log[ n·c(ab) / (c(a)·c(b)) ], among bigrams seen at least
    ``min_count`` times.

    log is monotonic, so ranking uses the RATIO itself — scored as
    ``score_ppm = (c_ab · n_tokens · 10⁶) DIV (c_a · c_b)`` with the
    product accumulated in DECIMAL(38,0) and integer-divided: exact on
    any engine at any corpus size (c_ab·n·10⁶ overflows int64 past ~10⁹
    tokens; a float log differs across libms in the last ulp and makes
    top-k ties engine-dependent). Output (token_a, token_b, n_pair,
    score_ppm), score DESC / pair ASC — a total order.

    Scale shape: ONE corpus scan and ONE fact-sized exchange. Each doc's
    token list zips against its 1-shifted self PADDED with a NULL
    sentinel, so every token position emits exactly one (a, b) pair —
    the doc-last position as (token, NULL) — and a single (a, b)-keyed
    count serves BOTH grains: bigram counts are the b-NOT-NULL rows, and
    unigram counts recover exactly as Σ_b count(a, b) (every occurrence
    of t is the `a` of exactly one emitted pair). The aggregated grain
    (distinct bigrams — vocab²-bounded, tiny next to the corpus) is
    materialized once and re-read by the unigram rollup, the 1-row
    total, and the min-count filter, so the corpus is scanned and
    tokenized ONCE (a measured 3.6→2.3 s at the 10× checkpoint vs the
    earlier two-scan spelling; a hash-first two-pass à la
    duplicate_spans slims the exchange rows to 8-byte keys but pays a
    SECOND full scan+tokenize, which measures strictly worse here
    because min_count filters the aggregated grain, not the instance
    stream). Downstream: two slim shuffle joins against the vocab-sized
    unigram rollup (a broadcast would not hold at web scale) and a
    1-row total broadcast; TakeOrdered for the top-k."""
    from ..plans.scale import materialize_once

    toks = docs.select(tokens_col(F.col(text_col)).alias("__toks"))
    rhs = F.concat(
        F.slice(F.col("__toks"), 2, F.greatest(F.size("__toks") - 1, F.lit(0))),
        F.array(F.lit(None).cast("string")),
    )
    grain = materialize_once(
        toks.select(
            F.explode(
                F.zip_with(
                    F.col("__toks"),
                    rhs,
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("__p")
        )
        .groupBy(F.col("__p.a").alias("__a"), F.col("__p.b").alias("__b"))
        .agg(F.count("*").alias("__c"))
    )
    uni = (
        grain.filter(F.col("__a") != "")
        .groupBy(F.col("__a").alias("__t"))
        .agg(F.sum("__c").alias("__c"))
    )
    total = uni.agg(F.sum("__c").cast("decimal(38,0)").alias("__n"))
    pairs = grain.filter(
        F.col("__b").isNotNull()
        & (F.col("__a") != "")
        & (F.col("__b") != "")
        & (F.col("__c") >= min_count)
    ).select(
        F.col("__a").alias("token_a"),
        F.col("__b").alias("token_b"),
        F.col("__c").alias("n_pair"),
    )
    ca = uni.select(F.col("__t").alias("token_a"), F.col("__c").alias("__ca"))
    cb = uni.select(F.col("__t").alias("token_b"), F.col("__c").alias("__cb"))
    num = (
        F.col("n_pair").cast("decimal(38,0)")
        * F.col("__n")
        * F.lit(1_000_000).cast("decimal(38,0)")
    )
    den = F.col("__ca").cast("decimal(38,0)") * F.col("__cb").cast("decimal(38,0)")
    return (
        pairs.join(ca, "token_a")
        .join(cb, "token_b")
        .crossJoin(F.broadcast(total))
        .select(
            "token_a",
            "token_b",
            "n_pair",
            num.cast("decimal(38,0)").alias("__num"),
            den.cast("decimal(38,0)").alias("__den"),
        )
        .select(
            "token_a",
            "token_b",
            "n_pair",
            F.expr("CAST(__num DIV __den AS BIGINT)").alias("score_ppm"),
        )
        .orderBy(F.desc("score_ppm"), F.asc("token_a"), F.asc("token_b"))
        .limit(k)
    )


def type_token_ratio(
    docs: DataFrame, by: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-stratum lexical diversity: type-token ratio (distinct tokens /
    total tokens) — the quick Heaps-law diagnostic that separates
    boilerplate-heavy feeds (low TTR: templates, logs) from diverse prose
    before any model-based quality scoring.

    Output (stratum, n_docs, n_tokens, n_types, ttr_ppm) with
    ``ttr_ppm = n_types·10⁶ DIV n_tokens`` — integer-exact, no float
    division. One explode, then two exchanges: the two count_distincts and
    the count share one ``Expand`` (a row per token for the stratum, for
    (stratum, token) and for (stratum, doc_id)), whose partial aggregate
    shuffles on (stratum, token, doc_id, group id) and so carries each
    distinct token and doc once per map partition; a second exchange on
    the stratum alone merges the partial counts."""
    exploded = docs.select(
        F.col(by), F.col("doc_id"), F.explode(tokens_col(F.col(text_col))).alias("__t")
    ).filter(F.col("__t") != "")
    return (
        exploded.groupBy(by)
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_tokens"),
            F.count_distinct("__t").alias("n_types"),
        )
        .select(
            F.col(by),
            "n_docs",
            "n_tokens",
            "n_types",
            F.expr("CAST((n_types * CAST(1000000 AS BIGINT)) DIV n_tokens AS BIGINT)").alias(
                "ttr_ppm"
            ),
        )
    )


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized lowercase text.
    Stable across engines (vs engine-specific hash functions), usable as an
    exact-dedup key."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return docs.select(F.col(id_col), F.md5(norm).alias("fingerprint"))


def source_vocab_overlap(
    docs: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Pairwise token-vocabulary Jaccard BETWEEN SOURCES — the
    corpus-mixing diagnostic ("how lexically similar are my data
    sources") run before setting mixture weights: for each source pair
    (source_a < source_b), both vocab sizes, the shared-vocabulary count,
    and Jaccard.

    Same machinery as ``analytics.audience_overlap``
    (:func:`analytics.pairwise_set_overlap`) with elements = distinct
    tokens, sets = sources: one token-keyed membership exchange (bitmask
    ``bit_or`` for ≤ 63 sources), pair fan-out ≤ |sources|²/2 per token,
    totals broadcast back. The token universe scales with the corpus;
    the source cardinality is small by definition — ``sets`` is the
    pruned one-column source scan so discovery never re-runs the token
    explode. The oracle keeps the DISTINCT + self-join spelling."""
    from .analytics import pairwise_set_overlap

    toks = docs.select(
        F.explode(tokens_col(F.col(text_col))).alias("element"),
        F.col(source_col).alias("set_id"),
    ).filter(F.col("element") != "")
    return pairwise_set_overlap(toks, sets=docs.select(F.col(source_col))).select(
        F.col("set_a").alias("source_a"),
        F.col("set_b").alias("source_b"),
        F.col("n_a").alias("vocab_a"),
        F.col("n_b").alias("vocab_b"),
        F.col("n_both").alias("vocab_shared"),
        "jaccard",
    )


def _running_sum(
    df: DataFrame, value_cols: list[str], order_exprs: list
) -> DataFrame:
    """Global running sums of the non-negative ``value_cols`` under a
    total order given by ``order_exprs`` (sort Columns; must be a TOTAL
    order for determinism), returned as extra ``__cum_<name>`` columns,
    all in the SAME range exchange / window / totals collect.

    Two-pass prefix sum: range-partition on the order into
    ``defaultParallelism`` partitions, running sum WITHIN each partition,
    then add each partition's broadcast exclusive offset (per-partition
    totals are a ≤ #partitions-row driver collect). No task sees more
    than its range — a global ``Window.orderBy`` would funnel everything
    through ONE task."""
    from ..plans.scale import materialize_once

    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    w = Window.partitionBy("__pid").orderBy(*order_exprs).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    lnames = [f"__lcum_{i}" for i in range(len(value_cols))]
    # materialized once (the totals collect below), reused by the final
    # select. Pinning matters for CORRECTNESS here too:
    # repartitionByRange samples range bounds, so a recompute could shift
    # partition ids between pass 1 and pass 2
    local = materialize_once(
        df.repartitionByRange(n, *order_exprs)
        .withColumn("__pid", F.spark_partition_id())
        .select(
            "*",
            *[F.sum(c).over(w).alias(ln) for c, ln in zip(value_cols, lnames)],
        )
    )
    # pass 2: per-partition totals (≤ n rows — bounded driver state) →
    # exclusive offsets; range partition i holds strictly smaller order
    # keys than i+1, so offset order == partition id order. The values
    # are non-negative, so a partition's total is its largest running sum
    totals = {
        r["__pid"]: [r[f"t{i}"] for i in range(len(value_cols))]
        for r in local.groupBy("__pid")
        .agg(*[F.max(ln).alias(f"t{i}") for i, ln in enumerate(lnames)])
        .collect()
    }
    acc = [0] * len(value_cols)
    offsets = []
    for pid in sorted(totals):
        offsets.append((pid, *acc))
        acc = [a + t for a, t in zip(acc, totals[pid])]
    onames = [f"__off_{i}" for i in range(len(value_cols))]
    off = spark.createDataFrame(
        offsets, ", ".join(["__pid int"] + [f"{o} long" for o in onames])
    )
    out = local.join(F.broadcast(off), "__pid")
    for c, ln, o in zip(value_cols, lnames, onames):
        out = out.withColumn(f"__cum_{c}", F.col(o) + F.col(ln))
    return out.drop("__pid", *lnames, *onames)


def vocab_growth(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heaps'-law curve of the corpus: for documents processed in
    ``id_col`` order, the cumulative token count and cumulative distinct
    vocabulary size after each document — the saturation diagnostic run
    before sizing a tokenizer vocabulary or judging whether one more
    crawl snapshot still adds new language.

    Scale shape: "cumulative distinct" is NOT computed as a running set.
    Each token contributes to the vocabulary exactly once, at its
    first-occurrence document, so one token-keyed ``min(id)`` aggregate
    (map-side combined) reduces the corpus to vocab grain; counting
    first occurrences per document gives a per-doc ``n_new_types``, and
    the curve is BOTH running sums in one pass of the two-pass
    distributed prefix sum :func:`_running_sum` (range partition +
    per-partition offsets, never a single global window task).

    Output per document: (id_col, n_tokens, cum_tokens, n_new_types,
    vocab_size), ordered by ``id_col``."""
    toks = F.filter(tokens_col(F.col(text_col)), lambda t: t != "")
    per_doc = docs.select(
        F.col(id_col), F.size(toks).cast("long").alias("n_tokens")
    )
    firsts = (
        docs.select(
            F.col(id_col).alias("__d"),
            F.explode(tokens_col(F.col(text_col))).alias("__t"),
        )
        .filter(F.col("__t") != "")
        .groupBy("__t")
        .agg(F.min("__d").alias("__first"))
        .groupBy(F.col("__first").alias(id_col))
        .agg(F.count("*").cast("long").alias("n_new_types"))
    )
    base = per_doc.join(firsts, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_new_types", F.lit(0).cast("long")).alias("n_new_types"),
    )
    order = [F.col(id_col).asc()]
    c = _running_sum(base, ["n_tokens", "n_new_types"], order)
    return c.select(
        id_col,
        "n_tokens",
        F.col("__cum_n_tokens").cast("long").alias("cum_tokens"),
        "n_new_types",
        F.col("__cum_n_new_types").cast("long").alias("vocab_size"),
    )  # no trailing sort: per-doc grain is unbounded; the cumulative
    # semantics live in _running_sum's order, not the output order


def distinctive_terms(
    docs: DataFrame,
    k: int = 5,
    min_count: int = 3,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source distinctive vocabulary: the ``k`` terms most
    over-represented in each source relative to the REST of the corpus,
    ranked by the (+1-smoothed) ODDS RATIO
    ``[(c_s+1)/(n_s−c_s+1)] / [(c_r+1)/(n_r−c_r+1)]`` — the
    corpus-comparison tool (Monroe et al.'s "Fightin' Words" family)
    behind "what does this source talk about that the others don't",
    run before weighting a domain in a pretraining mix.

    log-odds is the usual presentation, but log is monotone, so ranking
    uses the RATIO itself, ppm-scaled and computed as ONE integer
    division over DECIMAL(38,0) products (same libm-free discipline as
    ``collocations``: bit-identical on every engine, no last-ulp tie
    ambiguity; magnitudes stay under 10³⁸ for corpora past 10¹² tokens).

    Scale shape: one explode → (source, term) count with map-side
    combine; term totals and source totals are windows over that
    aggregated grain (one term-keyed exchange — a broadcast of the term
    totals would not hold at web-scale vocabularies — and one
    source-keyed exchange the top-k window reuses); the 1-row corpus
    total broadcasts. Output (source, term, n_source, n_rest, odds_ppm,
    rank), rank 1..k, ties term-ASC."""
    from ..plans.scale import materialize_once

    # the aggregated (source, term) grain feeds the corpus total AND the
    # scored frame; unpinned, the full corpus explode runs twice
    st = materialize_once(
        docs.select(
            F.col(source_col).alias("source"),
            F.explode(tokens_col(F.col(text_col))).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count("*").alias("__c"))
    )
    w_term = Window.partitionBy("term")
    w_src = Window.partitionBy("source")
    tot = st.agg(F.sum("__c").alias("__n"))
    scored = (
        st.withColumn("__ct", F.sum("__c").over(w_term))
        .withColumn("__ns", F.sum("__c").over(w_src))
        .crossJoin(F.broadcast(tot))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    c_s = F.col("__c")
    c_r = F.col("__ct") - c_s
    n_s = F.col("__ns")
    n_r = F.col("__n") - n_s
    num = dec(c_s + 1) * dec(n_r - c_r + 1) * F.lit(1_000_000).cast("decimal(38,0)")
    den = dec(n_s - c_s + 1) * dec(c_r + 1)
    ranked = (
        scored.filter(c_s >= min_count)
        .withColumn("__num", num.cast("decimal(38,0)"))
        .withColumn("__den", den.cast("decimal(38,0)"))
        .select(
            "source",
            "term",
            c_s.cast("long").alias("n_source"),
            c_r.cast("long").alias("n_rest"),
            F.expr("CAST(__num DIV __den AS BIGINT)").alias("odds_ppm"),
        )
    )
    w_k = Window.partitionBy("source").orderBy(
        F.desc("odds_ppm"), F.asc("term")
    )
    return (
        ranked.withColumn("rank", F.row_number().over(w_k).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy(F.asc("source"), F.asc("rank"))
    )


def langid_confusion(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the corpus's
    declared language labels: per (declared, predicted) cell, the doc
    count and the within-declared-language recall share — the classifier
    QA table that decides whether lang-ID is trustworthy enough to drive
    per-language curation decisions (a strong diagonal says yes; a row
    bleeding into 'unknown' says the marker list misses that language's
    register).

    One scan-local scoring pass (``lang_id`` with the label riding the
    same scan — no id re-join), one (declared, predicted)-keyed count
    with map-side combine, one window over the tiny cell grain for the
    row totals. Output (lang_col, predicted_lang, n_docs, recall),
    declared/predicted ASC."""
    p = lang_id(docs, text_col=text_col, id_col=id_col, keep=(lang_col,))
    g = p.groupBy(lang_col, "predicted_lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    w = Window.partitionBy(lang_col)
    return g.select(
        lang_col,
        "predicted_lang",
        "n_docs",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 6
        ).alias("recall"),
    ).orderBy(F.asc(lang_col), F.asc("predicted_lang"))


def skipgram_pmi(
    docs: DataFrame,
    window: int = 3,
    k: int = 100,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Skip-gram co-occurrence mining — :func:`collocations` generalized
    from adjacent bigrams to UNORDERED token pairs within a ±``window``
    position distance (the word2vec-era context statistic; adjacent-only
    PMI misses "new ... york-style" constructions).

    Scoring is the same libm-free exact-integer estimator as
    collocations: ``score_ppm = (c_ab · n_tokens · 10⁶) DIV (c_a · c_b)``
    accumulated in DECIMAL(38,0) — hash-identical on any engine. Pairs
    are canonicalized (least, greatest) so each co-occurrence counts once
    regardless of direction.

    Scale shape: the pair stream is built as ``window`` zip_with'd
    shifted slices concatenated in-row (plain codegen — the r7 lesson:
    HOF `transform` lambdas run interpreted, zip_with's struct lambda
    does not) and exploded ONCE; the (a, b)-keyed count map-side combines
    to the vocab²-bounded grain. Unigram counts come from a second,
    pair-free explode — unlike collocations the pair stream here is
    ``window``× the corpus, so the slim unigram re-scan is the cheaper
    spelling. Output (token_a, token_b, n_pair, score_ppm), top-k via
    TakeOrdered."""
    toks = docs.select(tokens_col(F.col(text_col)).alias("__toks"))
    parts = []
    for d in range(1, window + 1):
        rhs = F.slice(
            F.col("__toks"), d + 1, F.greatest(F.size("__toks") - d, F.lit(0))
        )
        parts.append(
            # raw (a, b) here — least/greatest SKIP nulls, so canonicalizing
            # before the null filter would turn every zip_with-padded tail
            # pair into a spurious (a, a) self-pair
            F.zip_with(
                F.col("__toks"),
                rhs,
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        )
    pairs = (
        toks.select(F.explode(F.concat(*parts)).alias("__p"))
        .filter(
            F.col("__p.b").isNotNull()
            & (F.col("__p.a") != "")
            & (F.col("__p.b") != "")
        )
        .select(
            F.least("__p.a", "__p.b").alias("__a"),
            F.greatest("__p.a", "__p.b").alias("__b"),
        )
        .groupBy("__a", "__b")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    uni = (
        docs.select(F.explode(tokens_col(F.col(text_col))).alias("__t"))
        .filter(F.col("__t") != "")
        .groupBy("__t")
        .agg(F.count("*").alias("__c"))
    )
    total = uni.agg(F.sum("__c").cast("decimal(38,0)").alias("__n"))
    ca = uni.select(F.col("__t").alias("__a"), F.col("__c").alias("__ca"))
    cb = uni.select(F.col("__t").alias("__b"), F.col("__c").alias("__cb"))
    num = (
        F.col("n_pair").cast("decimal(38,0)")
        * F.col("__n")
        * F.lit(1_000_000).cast("decimal(38,0)")
    )
    den = F.col("__ca").cast("decimal(38,0)") * F.col("__cb").cast("decimal(38,0)")
    return (
        pairs.join(ca, "__a")
        .join(cb, "__b")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("__a").alias("token_a"),
            F.col("__b").alias("token_b"),
            "n_pair",
            num.cast("decimal(38,0)").alias("__num"),
            den.cast("decimal(38,0)").alias("__den"),
        )
        .select(
            "token_a",
            "token_b",
            "n_pair",
            F.expr("CAST(__num DIV __den AS BIGINT)").alias("score_ppm"),
        )
        .orderBy(F.desc("score_ppm"), F.asc("token_a"), F.asc("token_b"))
        .limit(k)
    )
