"""Corpus-curation operators: deterministic sampling, PII redaction,
sequence packing, stratified statistics."""

from __future__ import annotations

from clickestream_project_bigdata_spark.operators import curation

SF = "/root/testdata/sf0.001"


def test_stratified_sample_deterministic_and_partition_invariant(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    s1 = {r.doc_id for r in curation.stratified_sample(docs, 0.2).collect()}
    s2 = {r.doc_id for r in curation.stratified_sample(docs.repartition(13), 0.2).collect()}
    assert s1 == s2  # pure function of the id — layout-independent
    assert 0.1 < len(s1) / docs.count() < 0.3
    # complement property: fraction f and its complement partition the corpus
    s_rest = {r.doc_id for r in curation.stratified_sample(docs, 1.0).collect()}
    assert s_rest == {r.doc_id for r in docs.select("doc_id").collect()}


def test_redact_pii_counts_and_replacement(spark):
    docs = spark.createDataFrame(
        [
            (1, "contact bob@example.com or alice@test.org today"),
            (2, "ssn 123-45-6789 phone 555-123-4567 end"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in curation.redact_pii(docs).collect()}
    assert got[1]["n_email"] == 2 and got[1]["n_redactions"] == 2
    assert got[1]["redacted_text"] == "contact <email> or <email> today"
    assert got[2]["n_ssn"] == 1 and got[2]["n_phone"] == 1
    assert got[2]["redacted_text"] == "ssn <ssn> phone <phone> end"
    assert got[3]["n_redactions"] == 0
    assert got[3]["redacted_text"] == "nothing sensitive here"


def test_pack_sequences_layout(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "f g h i"), (4, "j")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in curation.pack_sequences(docs, budget=4).collect()}
    # token stream: doc1 @0 (3), doc2 @3 (2), doc3 @5 (4), doc4 @9 (1)
    assert [rows[i]["start_offset"] for i in (1, 2, 3, 4)] == [0, 3, 5, 9]
    assert [rows[i]["pack_id"] for i in (1, 2, 3, 4)] == [0, 0, 1, 2]


def test_corpus_stats_totals(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    stats = curation.corpus_stats(docs).collect()
    assert sum(r["n_docs"] for r in stats) == docs.count()
    assert all(0.0 <= r["avg_quality"] <= 1.0 for r in stats)


def test_pack_sequences_distributed_matches_single(spark):
    """The two-pass distributed prefix sum must equal the single-window
    layout exactly, across partition counts."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    single = {
        r.doc_id: (r.start_offset, r.pack_id)
        for r in curation.pack_sequences(docs, 512, method="single").collect()
    }
    for n in (1, 3, 16):
        dist = {
            r.doc_id: (r.start_offset, r.pack_id)
            for r in curation.pack_sequences(docs, 512, partitions=n).collect()
        }
        assert dist == single, n


def test_pack_sequences_large_offsets_exact(spark):
    """pack_id must be exact integer division even when the cumulative token
    count exceeds 2^53, where double-precision division rounds: with cum just
    past 2^53 (odd), (cum/budget) as a double misassigns the pack."""
    big = (1 << 53) + 511  # rounds UP to 2^53+512 as a double — next pack
    docs = spark.createDataFrame(
        [(1, "x", big), (2, "y", 511), (3, "z", 7)],
        "doc_id long, text string, token_count long",
    )
    rows = {
        r.doc_id: r
        for r in curation.pack_sequences(
            docs, budget=512, method="single", count_col="token_count"
        ).collect()
    }
    assert rows[2].start_offset == big
    assert rows[2].pack_id == big // 512 == (1 << 44)
    assert rows[3].start_offset == big + 511
    assert rows[3].pack_id == (big + 511) // 512
    assert int(float(big) / 512) != big // 512  # the trap the old cast fell into


def test_decontaminate_flags_ngram_overlap(spark):
    """A doc sharing any word n-gram with the benchmark is contaminated;
    matched_ngrams counts DISTINCT shared grams (repeats don't inflate)."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "quick brown fox runs quick brown fox runs again"),
            (3, "completely unrelated text with no overlap at all"),
            (4, "short"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a quick brown fox appeared")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.matched_ngrams, r.contaminated)
        for r in curation.decontaminate(docs, bench, n=3).collect()
    }
    # benchmark 3-grams: {a quick brown, quick brown fox, brown fox appeared}
    assert got[1] == (1, True)   # "quick brown fox"
    assert got[2] == (1, True)   # appears twice, counted once
    assert got[3] == (0, False)
    assert got[4] == (0, False)  # shorter than n -> no grams


def test_temperature_sample_mixing_properties(spark):
    """alpha<1 keeps a HIGHER fraction of small strata than large ones;
    alpha=1 degenerates to uniform hash sampling (same rows as
    stratified_sample at the same fraction); membership is deterministic
    under repartitioning."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kept = curation.temperature_sample(docs, alpha=0.5, fraction=0.5, by=("lang",))
    by_lang_total = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")).collect()}
    by_lang_kept = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")).collect()}
    rates = {l: by_lang_kept.get(l, 0) / n for l, n in by_lang_total.items()}
    smallest = min(by_lang_total, key=by_lang_total.get)
    largest = max(by_lang_total, key=by_lang_total.get)
    assert rates[smallest] > rates[largest]  # upweighted small stratum
    # alpha=1 == uniform hash sample
    uni = {r.doc_id for r in curation.temperature_sample(docs, alpha=1.0, fraction=0.3).collect()}
    strat = {r.doc_id for r in curation.stratified_sample(docs, 0.3).collect()}
    assert uni == strat
    # layout-independence
    again = {r.doc_id for r in curation.temperature_sample(
        docs.repartition(17), alpha=0.5, fraction=0.5, by=("lang",)).collect()}
    assert again == {r.doc_id for r in kept.collect()}


def test_temperature_sample_null_stratum_not_dropped(spark):
    """Docs with a NULL stratum key form a stratum like any other: they must
    be sampled at that stratum's rate, not silently dropped by the rate
    join (eqNullSafe regression)."""
    rows = [(i, "en") for i in range(200)] + [(i, None) for i in range(200, 260)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = curation.temperature_sample(docs, alpha=0.5, fraction=0.5, by=("lang",))
    null_kept = kept.filter("lang IS NULL").count()
    assert null_kept > 0  # NULL stratum participates
    # alpha<1 upweights the small NULL stratum relative to the big one
    assert null_kept / 60 > kept.filter("lang = 'en'").count() / 200
    # membership is still the pure hash rule -> deterministic under layout
    again = curation.temperature_sample(
        docs.repartition(13), alpha=0.5, fraction=0.5, by=("lang",)
    )
    assert {r.doc_id for r in again.collect()} == {r.doc_id for r in kept.collect()}


def test_pack_corpus_text_layout(spark):
    """Packs materialize in id order; a doc straddling the budget boundary
    belongs to the pack its FIRST token lands in (n_tokens may exceed
    budget); text concatenates in id order."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f"), (3, "g h"), (4, "i")],
        "doc_id long, text string",
    )
    out = {r.pack_id: r for r in curation.pack_corpus_text(docs, budget=4).collect()}
    # offsets: doc1@0 (pack0), doc2@3 (pack0, straddles), doc3@6 (pack1), doc4@8 (pack2)
    assert out[0].pack_text == "a b c d e f"
    assert (out[0].n_docs, out[0].n_tokens) == (2, 6)  # > budget, by contract
    assert out[1].pack_text == "g h"
    assert out[2].pack_text == "i"


def test_stratified_fixed_k_exact_and_deterministic(spark):
    """Exactly k per stratum (all of a smaller stratum), 1..k ranks,
    layout-independent membership, and stability of a stratum's draw when
    ANOTHER stratum grows."""
    rows = [(i, "en") for i in range(100)] + [(i, "fr") for i in range(100, 110)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = curation.stratified_fixed_k(docs, k=20, by=("lang",))
    by_lang = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")).collect()}
    assert by_lang == {"en": 20, "fr": 10}  # full small stratum kept
    ranks = sorted(r.sample_rank for r in out.filter("lang='en'").collect())
    assert ranks == list(range(1, 21))
    en_draw = {r.doc_id for r in out.filter("lang='en'").collect()}
    # layout independence
    again = curation.stratified_fixed_k(docs.repartition(11), k=20, by=("lang",))
    assert {r.doc_id for r in again.filter("lang='en'").collect()} == en_draw
    # growing fr must not change en's draw
    grown = docs.union(spark.createDataFrame(
        [(i, "fr") for i in range(200, 260)], "doc_id long, lang string"))
    out2 = curation.stratified_fixed_k(grown, k=20, by=("lang",))
    assert {r.doc_id for r in out2.filter("lang='en'").collect()} == en_draw


def test_split_corpus_partition_properties(spark):
    """Splits are disjoint and complete, deterministic under layout, and
    consistent with stratified_sample's hash (train = the 90% sample when
    fractions line up)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = curation.split_corpus(docs, {"train": 0.9, "val": 0.05, "test": 0.05})
    n = docs.count()
    by_split = {r["split"]: r["cnt"] for r in out.groupBy("split").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("cnt")).collect()}
    assert sum(by_split.values()) == n  # complete, one split per doc
    assert set(by_split) <= {"train", "val", "test"}
    assert by_split["train"] > 0.8 * n
    again = curation.split_corpus(docs.repartition(13), {"train": 0.9, "val": 0.05, "test": 0.05})
    assert sorted((r.doc_id, r.split) for r in out.select("doc_id", "split").collect()) == \
        sorted((r.doc_id, r.split) for r in again.select("doc_id", "split").collect())
    train_ids = {r.doc_id for r in out.filter(out.split == "train").collect()}
    sample_ids = {r.doc_id for r in curation.stratified_sample(docs, 0.9).collect()}
    assert train_ids == sample_ids  # same hash, same cut


def test_decontaminate_apply_is_complement_of_hits(spark):
    """apply == corpus minus the report's contaminated ids."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "totally unrelated words here"),
         (3, "the quick brown fox sleeps")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, "a quick brown fox appeared")], "doc_id long, text string")
    report = {r.doc_id: r.contaminated for r in curation.decontaminate(docs, bench, n=3).collect()}
    kept = {r.doc_id for r in curation.decontaminate_apply(docs, bench, n=3).collect()}
    assert kept == {d for d, c in report.items() if not c}


def test_corpus_profile_counts_nulls_and_empties(spark):
    docs = spark.createDataFrame(
        [(1, "abc", "en", "web"), (2, None, "en", "web"), (3, "  ", "fr", "book")],
        "doc_id long, text string, lang string, source string",
    )
    [p] = curation.corpus_profile(docs).collect()
    assert (p.n_docs, p.n_langs, p.n_sources) == (3, 2, 2)
    assert (p.null_text, p.empty_text) == (1, 1)
    assert (p.min_chars, p.max_chars) == (2, 3)  # "  " has 2 chars, "abc" 3


def test_select_token_budget_cut_and_methods_agree(spark):
    """Highest-quality docs kept while the WHOLE doc fits; the straddling
    doc and everything after it drop; distributed == single-window."""
    from clickestream_project_bigdata_spark.operators.curation import (
        select_token_budget,
    )

    scored = spark.createDataFrame(
        [
            (1, 10, 0.9),
            (2, 10, 0.8),
            (3, 10, 0.8),   # tie with doc 2 -> id breaks it (2 before 3)
            (4, 10, 0.7),
            (5, 10, 0.6),
        ],
        "doc_id long, token_count long, quality_score double",
    )
    out = select_token_budget(scored, token_budget=35).collect()
    # cum after docs 1,2,3 = 30 <= 35; doc 4 would reach 40 -> dropped
    assert sorted((r.doc_id, r.cum_tokens) for r in out) == [(1, 10), (2, 20), (3, 30)]
    single = select_token_budget(scored, token_budget=35, method="single").collect()
    assert sorted(r.doc_id for r in single) == [1, 2, 3]
    # budget smaller than the best doc -> empty selection
    assert select_token_budget(scored, token_budget=5).count() == 0


def test_shuffle_shards_deterministic_permutation(spark):
    """Pure function of ids: same output under repartition; shards
    partition the corpus; positions are 1..shard_size within each shard;
    and the permutation actually scrambles id order."""
    from clickestream_project_bigdata_spark.operators.curation import shuffle_shards

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], "doc_id long, text string"
    )
    a = shuffle_shards(docs, n_shards=8).collect()
    b = shuffle_shards(docs.repartition(7), n_shards=8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 200 and len({r.doc_id for r in a}) == 200
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.pos_in_shard)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # global order (shard, pos) is not the identity id order
    order = [r.doc_id for r in sorted(a, key=lambda r: (r.shard, r.pos_in_shard))]
    assert order != sorted(order)


def test_pack_efficiency_fill_and_spill(spark):
    """Hand-checkable packing: budget 10, docs 6+6+4 -> pack 0 holds doc 1
    (6 in-window) + doc 2 start (4 in-window, 2 spill); pack 1 holds the
    doc-2 spill continuation... (doc 2 belongs to pack 0 by its start)
    and doc 3 starts at offset 12 -> pack 1."""
    from clickestream_project_bigdata_spark.operators.curation import (
        pack_efficiency,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(1, "a " * 6), (2, "b " * 6), (3, "c " * 4)], "doc_id long, text string"
    )
    plan = pack_sequences(docs, budget=10)
    out = {r.pack_id: r for r in pack_efficiency(plan, budget=10).collect()}
    # tokens: "a "*6 -> trailing space -> split gives 7 tokens? no: trim
    # first. "a a a a a a " -> trim -> "a a a a a a" -> 6 tokens. good.
    p0, p1 = out[0], out[1]
    assert (p0.n_docs, p0.pack_tokens) == (2, 12)
    assert (p0.tokens_in_window, p0.spill_tokens) == (10, 2)
    assert p0.fill_ppm == 1_000_000
    assert (p1.n_docs, p1.pack_tokens) == (1, 4)
    assert (p1.tokens_in_window, p1.spill_tokens) == (4, 0)
    assert p1.fill_ppm == 400_000


def test_quality_dup_calibration_hand_computed(spark):
    """Two identical docs (dup group) + one unique: dup membership and
    bin clamping (quality 1.0 → top bin) check out by hand."""
    from clickestream_project_bigdata_spark.operators.curation import (
        quality_dup_calibration,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta", "s"),
            (2, "alpha  beta", "s"),   # whitespace-normalized duplicate of 1
            (3, "gamma delta x", "s"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {r.bin: r for r in quality_dup_calibration(docs, bins=10).collect()}
    # all three docs are short, stopword-free, punct-free: quality =
    # 0.5*min(tokens/50,1) + 0.3 + 0.2 -> bin 5 for every doc
    assert set(rows) == {5}
    r = rows[5]
    assert (r.n_docs, r.n_dup_docs) == (3, 2)
    assert r.dup_rate == round(2 / 3, 6)
    assert r.bin_start == 0.5


def test_split_balance_cells_sum_and_expected(spark):
    """Cells partition the corpus; expected counts obey row x col / total
    and chi-square contributions are non-negative."""
    from clickestream_project_bigdata_spark.operators.curation import split_balance

    docs = spark.createDataFrame(
        [(i, f"text {i}", "s" + str(i % 3)) for i in range(60)],
        "doc_id long, text string, source string",
    )
    rows = split_balance(
        docs, fractions={"train": 0.5, "val": 0.25, "test": 0.25}
    ).collect()
    assert sum(r.n for r in rows) == 60
    tot = sum(r.n for r in rows)
    row_t = {}
    col_t = {}
    for r in rows:
        row_t[r.split] = row_t.get(r.split, 0) + r.n
        col_t[r.source] = col_t.get(r.source, 0) + r.n
    for r in rows:
        assert r.expected == round(row_t[r.split] * col_t[r.source] / tot, 6)
        assert r.chi2_contribution >= 0.0


def test_domain_balance_weights_alpha_half(spark):
    """Two sources with 9:1 token ratio at alpha=0.5: targets go 3:1, so
    the small source is oversampled 2.5x and the big one damped 0.833x."""
    from clickestream_project_bigdata_spark.operators.curation import (
        domain_balance_weights,
    )

    docs = spark.createDataFrame(
        [(1, "big", "t " * 9), (2, "small", "t")],
        "doc_id long, source string, text string",
    )
    got = {r.source: r for r in domain_balance_weights(docs, alpha=0.5).collect()}
    assert got["big"].n_tokens == 9 and got["small"].n_tokens == 1
    assert got["big"].token_share == 0.9 and got["small"].token_share == 0.1
    assert got["big"].target_share == 0.75 and got["small"].target_share == 0.25
    assert got["big"].weight == round(0.75 / 0.9, 6)
    assert got["small"].weight == 2.5


def test_snapshot_diff_statuses(spark):
    """id 1 unchanged, id 2 changed, id 3 removed, id 4 added; whitespace
    normalization means trailing-space edits are NOT changes."""
    from clickestream_project_bigdata_spark.operators.curation import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same", "a"), (2, "before", "a"), (3, "gone", "a")],
        "doc_id long, text string, source string",
    )
    new = spark.createDataFrame(
        [(1, "  same ", "a"), (2, "after", "a"), (4, "fresh", "a")],
        "doc_id long, text string, source string",
    )
    [r] = snapshot_diff(old, new).collect()
    assert (r.n_added, r.n_removed, r.n_changed, r.n_unchanged) == (1, 1, 1, 1)
    assert r.churn == 0.75
