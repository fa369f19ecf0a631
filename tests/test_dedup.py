"""Exact-duplicate operators: digest-keyed semantics on hand frames."""

from __future__ import annotations

import pytest

from clickestream_project_bigdata_spark.operators import dedup


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox", 19),
            (2, "The  Quick Brown  Fox", 21),      # exact dup after normalization
            (3, "the quick brown fox jumps", 25),  # near dup
            (4, "completely different text here", 30),
        ],
        "doc_id long, text string, n_chars long",
    )


def test_exact_dedup_groups(docs):
    out = {r.canonical_doc_id: r.n_copies for r in dedup.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1, 4: 1}


def test_dedup_keep_first(docs):
    kept = sorted(r.doc_id for r in dedup.dedup_keep_first(docs).collect())
    assert kept == [1, 3, 4]


def test_duplication_histogram_partitions_corpus(spark):
    from clickestream_project_bigdata_spark.operators.dedup import duplication_histogram

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "A  b"), (3, "a b "), (4, "unique one"), (5, "x"), (6, "x")],
        "doc_id long, text string",
    )
    got = {r.group_size: (r.n_groups, r.n_docs) for r in duplication_histogram(docs).collect()}
    # "a b" normalizes to one group of 3; "x" a group of 2; one singleton
    assert got == {3: (1, 3), 2: (1, 2), 1: (1, 1)}
    assert sum(n_docs for _, n_docs in got.values()) == 6


def test_duplicate_spans_detects_repeated_windows(spark):
    """A shared 5-token span across two docs is found; a doc-internal
    repeat counts occurrences but one doc; unique text yields nothing;
    docs shorter than the window are skipped."""
    from clickestream_project_bigdata_spark.operators.dedup import duplicate_spans

    shared = "the quick brown fox jumps"
    docs = spark.createDataFrame(
        [
            (1, f"alpha {shared} omega"),
            (2, f"start {shared} end"),
            (3, f"{shared} {shared}"),   # internal repeat (positions 0 and 5)
            (4, "completely different words here"),
            (5, "tiny"),                  # shorter than the window
        ],
        "doc_id long, text string",
    )
    out = {r.span_text: (r.n_occurrences, r.n_docs)
           for r in duplicate_spans(docs, span_tokens=5, k=50).collect()}
    assert out[shared] == (4, 3)  # docs 1, 2 + twice in doc 3
    # no span from doc 4 or 5 appears
    assert all(shared.split()[0] in s or "quick" in s or "brown" in s
               or "fox" in s or "jumps" in s or "the" in s for s in out)


def test_mask_duplicate_spans_keeps_global_first_occurrence(spark):
    """Apply form: the globally-first occurrence (min doc_id, pos) of a
    duplicated window keeps its tokens; every later occurrence masks,
    including a doc-internal repeat; untouched docs pass through with a
    digest of their own (lowercased) text."""
    import hashlib

    from clickestream_project_bigdata_spark.operators.dedup import (
        mask_duplicate_spans,
    )

    shared = "the quick brown fox jumps"
    docs = spark.createDataFrame(
        [
            (1, f"alpha {shared} omega"),     # first occurrence -> untouched
            (2, f"start {shared} end"),       # masked -> "start end"
            (3, f"{shared} {shared}"),        # both masked (doc 1 was first)
            (4, "completely different words here"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in mask_duplicate_spans(docs, span_tokens=5).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (rows[1].n_tokens, rows[1].n_masked_tokens) == (7, 0)
    assert rows[1].cleaned_digest == md5(f"alpha {shared} omega")
    assert (rows[2].n_tokens, rows[2].n_masked_tokens) == (7, 5)
    assert rows[2].cleaned_digest == md5("start end")
    # doc 3: 10 tokens; every 5-window rooted at pos 1 and 6 duplicates doc
    # 1's global first, and the sliding windows in between (pos 2-5) also
    # repeat doc 3's own... they are unique, so coverage = the two exact
    # occurrences' union = all 10 tokens only if pos 2-5 windows also match
    # something; here exactly positions 1 and 6 mask -> all 10 covered
    assert rows[3].n_masked_tokens == 10
    assert rows[3].cleaned_digest == md5("")
    assert (rows[4].n_tokens, rows[4].n_masked_tokens) == (4, 0)
    assert rows[4].cleaned_digest == md5("completely different words here")


def test_dup_rate_by_stratum_per_source(spark):
    from clickestream_project_bigdata_spark.operators.dedup import dup_rate_by_stratum

    docs = spark.createDataFrame(
        [
            (1, "aaa", "s1"), (2, "aaa", "s1"), (3, "bbb", "s1"),  # 1 dup of 3
            (4, "ccc", "s2"), (5, "ddd", "s2"),                     # no dups
            (6, "aaa", "s2"),  # same text as s1 — counts unique within s2
        ],
        "doc_id long, text string, source string",
    )
    got = {r.source: (r.n_docs, r.n_unique, r.dup_rate)
           for r in dup_rate_by_stratum(docs, by=("source",)).collect()}
    assert got["s1"] == (3, 2, round(1 / 3, 6))
    assert got["s2"] == (3, 3, 0.0)


def test_incremental_dedup_drops_seen_and_batch_dups(spark):
    from clickestream_project_bigdata_spark.operators.dedup import incremental_dedup

    seen = spark.createDataFrame(
        [(1, "already ingested"), (2, "other old doc")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (10, "Already   ingested"),   # normalized dup of seen -> dropped
            (11, "brand new"),
            (12, "brand new"),            # in-batch dup -> keep lowest id only
            (13, "also new"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in incremental_dedup(new, seen).collect())
    assert kept == [11, 13]


def test_cross_source_duplication_doc_and_span_grain(spark):
    """Doc grain sees only exact cross-source duplicates; span grain
    catches the shared 4-token boilerplate between sources that never
    share a whole doc."""
    from clickestream_project_bigdata_spark.operators.dedup import (
        cross_source_duplication,
    )

    docs = spark.createDataFrame(
        [
            (1, "shared boiler plate text plus alpha", "a"),
            (2, "shared boiler plate text plus beta", "b"),
            (3, "totally different content here now", "c"),
            (4, "exact copy", "a"),
            (5, "exact  copy", "b"),  # whitespace-normalized dup of 4
        ],
        "doc_id long, text string, source string",
    )
    doc_grain = {
        (r.source_a, r.source_b): r.fingerprints_shared
        for r in cross_source_duplication(docs, grain="doc").collect()
    }
    assert doc_grain == {("a", "b"): 1}

    span_grain = {
        (r.source_a, r.source_b): r
        for r in cross_source_duplication(docs, grain="span", span_tokens=4).collect()
    }
    # a and b share the windows of "shared boiler plate text plus" => 2
    # shared 4-token windows; c shares nothing
    assert set(span_grain) == {("a", "b")}
    assert span_grain[("a", "b")].fingerprints_shared == 2
