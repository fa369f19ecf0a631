"""Dedup operators: exact semantics on hand frames; sketch methods
(MinHash/SimHash) pinned against exact baselines on the fixture corpus."""

from __future__ import annotations

import pytest

from clickestream_project_bigdata_spark.operators import dedup

SF = "/root/testdata/sf0.001"


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


def test_ngram_jaccard_pairs(docs):
    # block width 64 puts all four docs in block 0
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical word sets
    assert pairs[(1, 3)] == 0.8  # 4 shared / 5 union
    assert (1, 4) not in pairs


def test_minhash_identical_sets_estimate_one(docs):
    pairs = {
        (r.doc_a, r.doc_b): (r.est_jaccard, r.jaccard)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    est, exact = pairs[(1, 2)]
    assert est == 1.0 and exact == 1.0


def test_minhash_recall_vs_exact(spark):
    """Every exact shingle-Jaccard≥0.9 pair (blocked) must be caught by LSH:
    at 64 hashes / 16 bands the collision probability at j=0.9 is ~1-1e-9."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = dedup.ngram_jaccard_pairs(docs, threshold=0.9)
    # exact uses word sets; rebuild with the same shingles as minhash for parity
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.operators.dedup import word_shingles

    d = docs.select("doc_id", word_shingles(F.col("text"), 2).alias("sh"))
    a, b = d.alias("a"), d.alias("b")
    jac = (
        F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
        / F.size(F.array_union("a.sh", "b.sh"))
    )
    exact_pairs = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("j"),
        )
        .filter(F.col("j") >= 0.9)
        .collect()
    }
    lsh_pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.9).collect()
    }
    assert exact_pairs, "fixture should contain near-dups"
    missed = exact_pairs - lsh_pairs
    assert not missed, f"LSH missed {len(missed)}/{len(exact_pairs)} pairs"
    # and verification keeps precision exact: no pair below threshold
    assert lsh_pairs <= exact_pairs


def test_duplicate_clusters_connected_components(spark):
    """Chain 1-2-3, separate pair 10-11, isolated pairless nodes excluded:
    min-label propagation must converge to the component minimum."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 6), (6, 7), (3, 5)],
        "doc_a long, doc_b long",
    )
    out = {r.doc_id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()}
    # 1-2-3-5-6-7 all connected through (3,5): one cluster labeled 1
    assert {out[i] for i in (1, 2, 3, 5, 6, 7)} == {1}
    assert out[10] == out[11] == 10


def test_duplicate_clusters_from_minhash(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9)
    clusters = dedup.duplicate_clusters(pairs)
    n_pairs = pairs.count()
    assert n_pairs > 0
    rolled = clusters.groupBy("cluster_id").count().collect()
    # every clustered doc appears once; cluster ids are member minima
    assert sum(r["count"] for r in rolled) == clusters.count()
    assert clusters.filter("cluster_id > doc_id").count() == 0


def test_shingles_short_docs_yield_empty(spark):
    """Docs with fewer than n tokens must produce ZERO shingles, not crash:
    an unguarded sequence(0, size-n) descends for size<n and element_at
    raises INVALID_ARRAY_INDEX_IN_ELEMENT_AT (ANSI mode). Matches the
    DuckDB oracle, whose generate_series yields no grams for short docs."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "two tokens"), (4, "   ")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.sh
        for r in docs.select(
            "doc_id", dedup.word_shingles(F.col("text"), 2).alias("sh")
        ).collect()
    }
    assert out[1] == [] and out[2] == [] and out[4] == []
    assert out[3] == ["two tokens"]
    # and the full minhash→LSH path survives a short-doc corpus
    mh = dedup.minhash_signatures(docs).collect()
    assert len(mh) == 4
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    # empty-shingle docs all share the sentinel signature; verification
    # (0-size union) must not produce spurious pairs between them
    assert all(p.doc_a != p.doc_b for p in pairs)


def test_ngram_jaccard_lazy_when_small_vocab_false(docs):
    """small_vocab=False must build the plan with no eager corpus scan and
    still return identical results via the array path."""
    pairs_arr = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, small_vocab=False).collect()
    }
    pairs_bit = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5, small_vocab=True).collect()
    }
    assert pairs_arr == pairs_bit


def test_duplicate_clusters_checkpoint_bounds_lineage(spark):
    """A 25-node path graph needs 24 propagation rounds to converge to
    one cluster; localCheckpoint every few rounds must keep the FINAL
    plan's join count bounded (≤ 2 joins per round since the last
    checkpoint) instead of carrying one join pair per iteration."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 25)], "doc_a long, doc_b long"
    )
    out = dedup.duplicate_clusters(chain, max_edges_local=0)
    labels = {r.doc_id: r.cluster_id for r in out.collect()}
    assert set(labels.values()) == {1} and len(labels) == 25
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") <= 8, f"lineage not truncated:\n{plan}"


def test_duplicate_clusters_local_fast_path_matches_distributed(spark):
    """The driver-side union-find (small graphs) and the distributed
    min-label loop must produce identical components."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 6), (6, 7), (3, 5), (20, 21)],
        "doc_a long, doc_b long",
    )
    fast = {(r.doc_id, r.cluster_id) for r in dedup.duplicate_clusters(pairs).collect()}
    dist = {
        (r.doc_id, r.cluster_id)
        for r in dedup.duplicate_clusters(pairs, max_edges_local=0).collect()
    }
    assert fast == dist


def test_simhash_close_on_near_dups(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and once"),
            (3, "entirely unrelated words about spark sql engines at scale"),
        ],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    ham12 = bin((sigs[1] ^ sigs[2]) & (2**64 - 1)).count("1")
    ham13 = bin((sigs[1] ^ sigs[3]) & (2**64 - 1)).count("1")
    assert ham12 < ham13
    pairs = {(r.doc_a, r.doc_b) for r in dedup.simhash_pairs(docs, max_hamming=16).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_portable_minhash_matches_xx_on_exact_dups(docs):
    """The portable (md5/mod-p) hash family must agree with the xxhash64
    family on what it certifies: identical word sets estimate 1.0 and verify
    1.0 under both."""
    for h in ("xx", "portable"):
        pairs = {
            (r.doc_a, r.doc_b): (r.est_jaccard, r.jaccard)
            for r in dedup.minhash_lsh_pairs(docs, threshold=0.5, hash=h).collect()
        }
        assert pairs[(1, 2)] == (1.0, 1.0), h


def test_portable_minhash_recall_vs_exact(spark):
    """Same recall pin as the xx family: every exact Jaccard≥0.9 pair must
    be caught by the portable LSH (64 hashes / 16 bands)."""
    from pyspark.sql import functions as F

    from clickestream_project_bigdata_spark.operators.dedup import word_shingles

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    d = docs.select("doc_id", word_shingles(F.col("text"), 2).alias("sh"))
    a, b = d.alias("a"), d.alias("b")
    jac = (
        F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
        / F.size(F.array_union("a.sh", "b.sh"))
    )
    exact_pairs = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("j"),
        )
        .filter(F.col("j") >= 0.9)
        .collect()
    }
    lsh_pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.9, hash="portable").collect()
    }
    assert exact_pairs and exact_pairs <= lsh_pairs <= exact_pairs


def test_portable_simhash_pairs(spark):
    """60-bit portable SimHash keeps the ordering property (near-dups at
    smaller Hamming distance than unrelated docs) and the banding contract."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and once"),
            (3, "entirely unrelated words about spark sql engines at scale"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.simhash_pairs(docs, max_hamming=16, bits=60, hash="portable").collect()
    }
    assert (1, 2) in pairs and (1, 3) not in pairs


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


def test_dedup_apply_keeps_cluster_minimums(spark):
    """Exact dups collapse to the lowest id; near-dup clusters keep only
    their minimum member; unique docs survive untouched."""
    from clickestream_project_bigdata_spark.operators.dedup import dedup_apply

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),            # exact dup of 1 -> dropped
            (3, near),            # near dup of 1 -> dropped (cluster min = 1)
            (4, "completely different content about other topics entirely"),
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in dedup_apply(docs, threshold=0.5).collect()}
    assert kept == {1, 4}


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


def test_dedup_method_agreement_flags_lsh_false_negatives(spark):
    """Byte-identical docs SHORTER than the shingle width produce no
    shingles and can never band-collide -> they land in n_exact_only; a
    near-dup (not identical) pair lands in n_minhash_only; identical long
    docs land in n_both."""
    from clickestream_project_bigdata_spark.operators.dedup import (
        dedup_method_agreement,
    )

    long_a = "the quick brown fox jumps over the lazy dog again and again"
    near = long_a.replace("dog", "cat")
    docs = spark.createDataFrame(
        [
            (1, long_a, "en", "s", len(long_a)),
            (2, long_a, "en", "s", len(long_a)),     # identical -> both
            (3, near, "en", "s", len(near)),          # near-dup -> minhash_only
            (4, "short", "en", "s", 5),               # 1 token: no 2-shingle
            (5, "short", "en", "s", 5),               # identical -> exact_only
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    [r] = dedup_method_agreement(docs, threshold=0.7, hash="portable").collect()
    assert r.n_both >= 1            # (1,2)
    assert r.n_exact_only >= 1      # (4,5): LSH false negative surfaced
    assert r.n_exact_pairs == r.n_both + r.n_exact_only
    assert r.n_minhash_pairs == r.n_both + r.n_minhash_only
    assert 0 < r.agreement_ppm < 1_000_000


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


def test_duplicate_clusters_distributed_on_real_pairs_matches_and_bounds_plan(spark):
    """VERDICT r6 #5: force the DISTRIBUTED min-label loop
    (max_edges_local=0) on the sf0.01 fixture's REAL n-gram-Jaccard near-dup
    pair graph (~14.7k edges) and pin equality with the driver-side union-find fast path plus
    a checkpoint-bounded final plan — the guarantee that a cap
    misconfiguration at 100 TB degrades performance, never correctness."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.3).persist()
    assert pairs.count() > 10_000  # a real candidate graph (~14.7k edges)
    fast = {(r.doc_id, r.cluster_id) for r in dedup.duplicate_clusters(pairs).collect()}
    dist_df = dedup.duplicate_clusters(pairs, max_edges_local=0)
    dist = {(r.doc_id, r.cluster_id) for r in dist_df.collect()}
    assert fast == dist
    plan = dist_df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") <= 8, f"lineage not truncated:\n{plan}"
    pairs.unpersist()


def test_neardup_histogram_buckets_and_calibration(spark):
    """Identical docs land in the top bucket with zero estimation error
    (est and exact both 1.0); bucket starts are the 1/bins grid."""
    from clickestream_project_bigdata_spark.operators.dedup import (
        neardup_similarity_histogram,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", 22),
            (2, "alpha beta gamma delta", 22),
            (3, "totally different words here", 28),
        ],
        "doc_id long, text string, n_chars long",
    )
    rows = neardup_similarity_histogram(docs, hash="portable").collect()
    assert [(r.bucket, r.n_pairs) for r in rows] == [(19, 1)]
    assert rows[0].bucket_start == 0.95
    assert rows[0].mean_est_error == 0.0


def test_ngram_jaccard_max_pairs_guard(spark):
    """Tier contract (SCALING.md): the exact tier must FAIL FAST with a
    redirect to the LSH tier when the blocked candidate-pair census exceeds
    max_pairs, and must not guard when max_pairs=None."""
    import pytest as _pytest

    rows = [(i, "the same words in every doc", 27) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars int")
    with _pytest.raises(ValueError, match="minhash_lsh_pairs"):
        dedup.ngram_jaccard_pairs(docs, max_pairs=1_000)
    # under the cap: runs and finds all C(200,2) exact-dup pairs
    n = dedup.ngram_jaccard_pairs(docs, threshold=0.9, max_pairs=100_000).count()
    assert n == 200 * 199 // 2


def test_similar_visitors_minhash_exact_set_jaccard(spark):
    """Visitor-as-document with shingle_n=1: the verified `jaccard` is
    EXACT item-set Jaccard, itemid ORDER/timing/repetition is irrelevant
    (sets, not sequences), and disjoint visitors never pair."""
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # v1 and v2 browse the SAME 4 items in different orders, with
        # repeats -> set Jaccard 1.0
        (1, t(1), 1, 10), (1, t(2), 2, 20), (1, t(3), 3, 30),
        (1, t(4), 4, 40), (1, t(5), 5, 10),
        (2, t(1), 6, 40), (2, t(2), 7, 30), (2, t(3), 8, 20),
        (2, t(4), 9, 10),
        # v3 shares 2 of 4 with v1 -> Jaccard 2/6 = 0.333 (below 0.4)
        (3, t(1), 10, 10), (3, t(2), 11, 20), (3, t(3), 12, 50),
        (3, t(4), 13, 60),
        # v4 disjoint
        (4, t(1), 14, 70), (4, t(2), 15, 80),
    ]
    ev = spark.createDataFrame(
        rows, "visitorid long, event_time timestamp, event_id long, itemid long"
    )
    got = dedup.similar_visitors_minhash(ev, threshold=0.4, hash="portable").collect()
    assert [(r.visitor_a, r.visitor_b, r.jaccard) for r in got] == [(1, 2, 1.0)]
    assert got[0].est_jaccard == 1.0  # identical sets -> identical signatures
    # lowering the threshold admits the 1/3-overlap pair IF banding caught
    # it; exactness of the jaccard column is the contract either way
    low = {
        (r.visitor_a, r.visitor_b): r.jaccard
        for r in dedup.similar_visitors_minhash(
            ev, threshold=0.3, hash="portable"
        ).collect()
    }
    assert low[(1, 2)] == 1.0
    if (1, 3) in low:
        assert low[(1, 3)] == 0.333333
