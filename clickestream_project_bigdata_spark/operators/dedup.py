"""Exact-duplicate operators for document corpora.

Every operator keys its shuffle on a digest of the normalized text
(``md5``, or a pair of ``xxhash64`` values for token windows), so the text
bodies are hashed at the scan and never shuffled:

* whole documents: :func:`exact_dedup`, :func:`dedup_keep_first`,
  :func:`incremental_dedup` (against an earlier snapshot) and the
  diagnostics :func:`duplication_histogram`, :func:`dup_rate_by_stratum`,
  :func:`cross_source_duplication` and :func:`dedup_token_savings`;
* repeated token windows: :func:`duplicate_spans` finds them and
  :func:`mask_duplicate_spans` removes every copy but the first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens_col


def _norm_text(text_col: str) -> Column:
    return F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups keyed by md5(normalized text): canonical
    (minimum) id + group size. Keep rows where ``doc_id = canonical_doc_id``
    to materialize the deduplicated corpus."""
    return (
        docs.withColumn("fingerprint", F.md5(_norm_text(text_col)))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def dedup_keep_first(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated corpus itself: one row per distinct normalized text,
    keeping the lowest id. min-by over the digest groups — a single shuffle
    of (digest, id) pairs, never the text bodies."""
    keep = (
        docs.withColumn("__fp", F.md5(_norm_text(text_col)))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return docs.join(keep, on=id_col, how="left_semi")


def incremental_dedup(
    new_docs: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-snapshot ingest dedup — the daily-crawl case: drop new-batch
    rows whose normalized-text digest already exists in the ``seen``
    corpus, then exact-dedup WITHIN the batch keeping each group's lowest
    id. Returns the surviving ``new_docs`` rows unchanged.

    Scale shape: the seen corpus collapses to DISTINCT 16-byte digests at
    the scan (its text never shuffles, and in production you'd persist
    this digest set once, not recompute it per batch); the batch
    anti-joins on digest, then one digest-keyed min-id shuffle dedupes
    within the batch. Everything is digest-keyed — text bodies stay in
    place until the final semi join selects survivors."""
    seen_fp = seen.select(F.md5(_norm_text(text_col)).alias("__seen_fp")).distinct()
    batch = new_docs.withColumn("__fp", F.md5(_norm_text(text_col)))
    fresh = batch.join(
        seen_fp, F.col("__fp") == F.col("__seen_fp"), "left_anti"
    )
    keep = fresh.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return new_docs.join(keep.select(id_col), id_col, "left_semi")


def duplication_histogram(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distribution of exact-duplicate group sizes — the dedup diagnostic
    run before choosing a strategy: (group_size, n_groups, n_docs). A
    corpus with a heavy tail here wants exact dedup before any sketch pass
    (every copy inflates MinHash candidate counts quadratically).

    Two keyed aggregations on narrow columns (digest, then size); the text
    bodies are hashed at the scan and never shuffled."""
    sizes = (
        docs.withColumn("__fp", F.md5(_norm_text(text_col)))
        .groupBy("__fp")
        .agg(F.count("*").alias("group_size"))
    )
    return (
        sizes.groupBy("group_size")
        .agg(F.count("*").alias("n_groups"))
        .select(
            "group_size",
            "n_groups",
            (F.col("group_size") * F.col("n_groups")).alias("n_docs"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    span_tokens: int = 16,
    min_occurrences: int = 2,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication detector (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better" signal,
    token-granular): every ``span_tokens``-token window that occurs at
    least ``min_occurrences`` times across the corpus, top-``k`` by
    occurrence count (count DESC, span ASC — deterministic).

    Output: (span_text, n_occurrences, n_docs). Suffix-array pipelines
    find *maximal* repeated substrings; fixed-width windows are the
    shuffle-friendly approximation — a repeated region of length L ≥ W
    shows up as L−W+1 repeated windows, so detection is equivalent for
    regions ≥ W and the operator stays one explode + one aggregation.

    Scale shape — hash-first two-pass so the big exchange carries 8-byte
    keys, not span strings (~1 window per corpus token is the honest cost
    of substring-level dedup; carrying the ~100-byte window TEXT through
    that shuffle is not):

    1. explode windows as token slices, aggregate ``count(*)`` on
       ``xxhash64(slice)`` — map-side partial agg on a fixed-width key,
       never building the string. Candidates = hashes with count ≥
       ``min_occurrences``. This is EXACT as a candidate filter even
       under collisions: a collision only inflates a hash-group count,
       so every qualifying span's hash qualifies (no false negatives).
    2. re-explode, semi-join on the candidate hashes (AQE broadcasts
       when small), build ``span_text`` only for survivors, and recount
       exactly per span — collision-merged groups separate here, so the
       reported counts carry no hash error at any corpus size.

    Duplicated windows are normally a small fraction of the corpus, so
    pass 2's string aggregation runs on a sliver; a pathological corpus
    where MOST windows repeat degrades to the one-pass cost plus a scan.
    At 100 TB run per-shard and union: window counts are mergeable
    (sum), unlike suffix arrays. For REMOVING the spans use
    :func:`mask_duplicate_spans`; for whole-doc near-dup use the MinHash
    path."""
    toks = docs.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") >= span_tokens)
    # pass 1 explodes BARE hash longs — the slice is hashed inside the
    # projection and never materialized per exploded row (measured ~25%
    # faster than exploding (id, slice) structs and hashing after)
    candidates = (
        toks.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__toks") - span_tokens + 1),
                    lambda i: F.xxhash64(F.slice(F.col("__toks"), i, span_tokens)),
                )
            ).alias("__h")
        )
        .groupBy("__h")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= min_occurrences)
        .select("__h")
    )
    slices = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - span_tokens + 1),
                lambda i: F.slice(F.col("__toks"), i, span_tokens),
            )
        ).alias("__slice"),
    )
    return (
        slices.withColumn("__h", F.xxhash64("__slice"))
        .join(candidates, "__h", "left_semi")
        .select(F.col(id_col), F.concat_ws(" ", "__slice").alias("span_text"))
        .groupBy("span_text")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.count_distinct(F.col(id_col)).alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= min_occurrences)
        .orderBy(F.desc("n_occurrences"), F.asc("span_text"))
        .limit(k)
    )


def mask_duplicate_spans(
    docs: DataFrame,
    span_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The APPLY form of :func:`duplicate_spans` — the actual Lee et al.
    "Deduplicating Training Data" transform: every occurrence of a
    duplicated ``span_tokens``-token window EXCEPT the globally first one
    (min ``(doc_id, position)``) has its tokens masked out, and the
    document is rebuilt from the surviving tokens. Overlapping duplicated
    windows union their coverage; a document's own internal repeats
    beyond the global first occurrence mask too.

    Output: (id_col, n_tokens, n_masked_tokens, cleaned_digest) — the
    cleaned text is carried as an md5 so the frame stays slim and
    hash-checkable; swap the digest for ``cleaned_text`` when
    materializing a real corpus.

    Scale shape — the output never contains span TEXT, so (unlike
    :func:`duplicate_spans`, which must rebuild the winning strings) no
    span string is ever built or shuffled. Window identity is a 128-bit
    composite of two independent ``xxhash64`` values — the same "16-byte
    digest ⇒ exact" standard as :func:`dedup_exact` (collision odds
    ~n²/2¹²⁹). Two stages, both slim:

    1. ONE explode of (doc, pos, h1, h2) — 28-byte rows, the token slice
       is hashed in the projection and never materialized per row — and
       ONE exchange: ``row_number`` over the (h1, h2) partition ordered
       (doc, pos); rn > 1 ⇔ a non-first occurrence of a duplicated
       window (rn 2 exists only when the group has ≥ 2 rows, so no
       separate candidate-count pass);
    2. coverage: shuffle only (doc, pos) of non-first occurrences, expand
       to covered token indexes INSIDE the collected row (flatten +
       distinct — exploding indexes multiplies the exchange by
       span_tokens), rebuild via ``array_except`` on index arrays —
       O(len + |covered|) per doc (an ``array_contains``-per-token filter
       is O(len·|covered|); both alternatives measured 2-8× slower on a
       fully-duplicated corpus). Untouched documents join nothing and
       pass through with zero masked tokens.
    """
    toks = docs.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("__toks")
    )
    wnd = toks.filter(F.size("__toks") >= span_tokens).select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - span_tokens + 1),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.xxhash64(F.slice(F.col("__toks"), i, span_tokens)).alias("h1"),
                    F.xxhash64(
                        F.lit(7), F.slice(F.col("__toks"), i, span_tokens)
                    ).alias("h2"),
                ),
            )
        ).alias("__w"),
    ).select(
        F.col(id_col),
        F.col("__w.pos").alias("__pos"),
        F.col("__w.h1").alias("__h1"),
        F.col("__w.h2").alias("__h2"),
    )
    w = Window.partitionBy("__h1", "__h2").orderBy(
        F.col(id_col).asc(), F.col("__pos").asc()
    )
    nonfirst = (
        wnd.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(F.col(id_col), "__pos")
    )
    # shuffle only (doc, pos) — the span_tokens-fold expansion to covered
    # token indexes happens INSIDE the collected row (flatten + distinct),
    # not as an exploded exchange (span_tokens× the rows, measured 2× the
    # whole operator's cost on a fully-duplicated corpus)
    covered = (
        nonfirst.groupBy(id_col)
        .agg(F.collect_list("__pos").alias("__ps"))
        .select(
            F.col(id_col),
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.col("__ps"),
                        lambda p: F.sequence(p, p + span_tokens - 1),
                    )
                )
            ).alias("__cov"),
        )
    )
    joined = toks.join(covered, id_col, "left")
    kept_idx = F.array_except(
        F.sequence(F.lit(1), F.size("__toks")),
        F.coalesce(F.col("__cov"), F.array().cast("array<int>")),
    )
    return joined.select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("n_tokens"),
        F.coalesce(F.size("__cov"), F.lit(0)).cast("long").alias("n_masked_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(kept_idx, lambda i: F.element_at(F.col("__toks"), i)),
            )
        ).alias("cleaned_digest"),
    )


def dup_rate_by_stratum(
    docs: DataFrame,
    by: tuple[str, ...] = ("source",),
    text_col: str = "text",
) -> DataFrame:
    """Exact-duplicate rate per stratum (source, lang, ...) — the curation
    diagnostic that tells you WHICH feed is polluting the corpus before you
    pay for a full dedup pass: (stratum..., n_docs, n_unique, dup_rate).

    One aggregation keyed (stratum, digest) collapsing copies, then one on
    the stratum alone — text hashed at the scan, never shuffled; both aggs
    partial/map-side combinable. A duplicate shared ACROSS strata counts as
    unique in each (the rate is per-stratum by design — cross-stratum
    overlap is :func:`cross_source_duplication`'s job)."""
    per_fp = (
        docs.withColumn("__fp", F.md5(_norm_text(text_col)))
        .groupBy(*by, "__fp")
        .agg(F.count("*").alias("__n"))
    )
    return per_fp.groupBy(*by).agg(
        F.sum("__n").alias("n_docs"),
        F.count("*").alias("n_unique"),
        F.round(
            (F.sum("__n") - F.count("*")).cast("double") / F.sum("__n"), 6
        ).alias("dup_rate"),
    )


def cross_source_duplication(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    grain: str = "doc",
    span_tokens: int = 8,
) -> DataFrame:
    """Pairwise cross-source content overlap — the provenance QA run
    before mixing corpora ("how much of B is already in A"): for each
    source pair (source_a < source_b), the number of distinct content
    fingerprints present in BOTH, plus Jaccard over the two fingerprint
    vocabularies.

    ``grain="doc"`` fingerprints whole normalized documents (exact
    cross-source duplicates only); ``grain="span"`` fingerprints every
    ``span_tokens``-token window (shared BOILERPLATE and quoted passages
    across sources — the signal that exists long before whole docs
    collide). Both reuse ``analytics.pairwise_set_overlap`` with
    elements = 128-bit fingerprints, sets = sources: one digest-keyed
    collect_set exchange — text never shuffles, only digests — pair
    fan-out bounded by |sources|²/2 per digest, totals broadcast back.

    Fingerprints are a struct of TWO seed-separated ``xxhash64`` values
    (the second folds in a literal discriminator), hashed straight over
    the window's token columns — no per-window ``concat_ws`` string
    build, no md5, no 32-char hex materialization. 128 bits keeps the
    collision budget md5-equivalent at 100 TB span counts (~10¹² spans →
    ~10⁻¹⁵ expected colliding pairs per pair of spans), where a single
    64-bit key would already expect ~10⁴ collisions; the oracle compares
    distinct-count arithmetic only, so any collision-free injective
    fingerprint is interchangeable. Span windows come from ``arrays_zip``
    of ``span_tokens`` shifted slices — NOT a ``transform(sequence)``
    lambda: higher-order-function lambdas are interpreted outside
    whole-stage codegen and measured 4× slower for the same output
    (10× fixture: window build 4.1 → 1.1 s; whole operator 10.1 → 3.4 s
    together with the bitmask membership aggregate in
    ``pairwise_set_overlap``)."""
    from .analytics import pairwise_set_overlap

    def _fp2(*cols: Column) -> Column:
        return F.struct(
            F.xxhash64(*cols).alias("h1"),
            F.xxhash64(*cols, F.lit(1)).alias("h2"),
        )

    if grain == "doc":
        # NULL text must stay excluded (md5(NULL) was NULL and filtered
        # downstream; xxhash64(NULL) is a real value — guard explicitly)
        fp = docs.select(
            F.when(
                F.col(text_col).isNotNull(), _fp2(_norm_text(text_col))
            ).alias("element"),
            F.col(source_col).alias("set_id"),
        )
    elif grain == "span":
        toks = docs.select(
            F.col(source_col).alias("set_id"),
            tokens_col(F.col(text_col)).alias("__toks"),
        ).filter(F.size("__toks") >= span_tokens)
        t = F.col("__toks")
        win = F.arrays_zip(
            *[
                F.slice(t, j + 1, F.size(t) - (span_tokens - 1))
                for j in range(span_tokens)
            ]
        )
        z = F.col("__z")
        fp = toks.select("set_id", F.explode(win).alias("__z")).select(
            "set_id",
            _fp2(*[z[str(j)] for j in range(span_tokens)]).alias("element"),
        )
    else:  # pragma: no cover - guarded misuse
        raise ValueError(f"grain must be 'doc' or 'span', got {grain!r}")
    return pairwise_set_overlap(fp, sets=docs.select(F.col(source_col))).select(
        F.col("set_a").alias("source_a"),
        F.col("set_b").alias("source_b"),
        F.col("n_a").alias("fingerprints_a"),
        F.col("n_b").alias("fingerprints_b"),
        F.col("n_both").alias("fingerprints_shared"),
        "jaccard",
    )


def dedup_token_savings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source accounting of what exact dedup BUYS: token volume before
    and after global keep-first dedup (min-id per md5(normalized text),
    the :func:`dedup_keep_first` rule), attributed to the KEPT copy's
    source — the number that justifies (or kills) running a dedup stage on
    a 100 TB ingest.

    Scale shape: one scan computes (source, fingerprint, token_count);
    the keeper flag is a min-id-equality over ONE fingerprint-keyed window
    exchange carrying (digest, id, tokens, source) — never the text — and
    the source rollup map-side combines exact integers. Output (source,
    n_docs, n_tokens, n_kept_docs, kept_tokens, token_savings_rate) with
    the rate one exact-integer division rounded to 6."""
    per = docs.select(
        F.col(source_col).alias("source"),
        F.col(id_col).alias("__id"),
        F.md5(_norm_text(text_col)).alias("__fp"),
        F.size(tokens_col(F.col(text_col))).cast("long").alias("__tok"),
    )
    w = Window.partitionBy("__fp")
    flagged = per.withColumn(
        "__keep", (F.col("__id") == F.min("__id").over(w)).cast("int")
    )
    return flagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("__tok").cast("long").alias("n_tokens"),
        F.sum("__keep").cast("long").alias("n_kept_docs"),
        F.sum(F.col("__tok") * F.col("__keep")).cast("long").alias("kept_tokens"),
        F.round(
            (F.sum("__tok") - F.sum(F.col("__tok") * F.col("__keep")))
            / F.sum("__tok").cast("double"),
            6,
        ).alias("token_savings_rate"),
    )
