"""Text-analysis operators on tiny hand frames."""

from __future__ import annotations

import pytest

from clickestream_project_bigdata_spark.operators import text


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a b c"),
            (3, "Hello, world! This is a test."),
        ],
        "doc_id long, text string",
    )


def test_text_stats(docs):
    got = {r.doc_id: r for r in text.text_stats(docs).collect()}
    assert got[1].token_count == 9
    assert got[1].stopword_count == 2  # 'the' twice
    assert got[2].token_count == 3
    assert got[2].stopword_count == 1  # 'a'
    assert got[3].punct_ratio > 0
    for r in got.values():
        assert 0.0 <= r.quality_score <= 1.0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog"),        # en markers
            (2, "der hund und die katze ist"), # de markers
            (3, "xyzzy qwerty"),               # nothing
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.predicted_lang for r in text.lang_id(df).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "unknown"


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "  hello   WORLD  ")],
        "doc_id long, text string",
    )
    fps = [r.fingerprint for r in text.fingerprint(df).orderBy("doc_id").collect()]
    assert fps[0] == fps[1] == fps[2]
    assert len(fps[0]) == 32


def test_ngram_counts_short_docs(spark):
    """Docs shorter than n contribute zero n-grams (no crash): the unguarded
    sequence(0, size-n) form raised INVALID_ARRAY_INDEX_IN_ELEMENT_AT on a
    1-token doc under ANSI mode."""
    df = spark.createDataFrame(
        [(1, "solo"), (2, ""), (3, "a b a b"), (4, "a b")],
        "doc_id long, text string",
    )
    got = {r.ngram: r.occurrences for r in text.ngram_counts(df, n=2).collect()}
    assert got == {"a b": 3, "b a": 1}


def test_chunk_documents_sliding_windows(spark):
    from clickestream_project_bigdata_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, "t1 t2 t3 t4 t5 t6 t7"),  # 7 tokens
            (2, "a b"),                    # shorter than max -> one chunk
            (3, None),                     # null text -> no chunks
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        (r.doc_id, r.chunk_id, r.n_tokens, r.chunk_text)
        for r in chunk_documents(docs, max_tokens=4, overlap=2).collect()
    )
    # doc 1: stride 2 -> starts 1,3,5 (start 7 would be pure overlap of [5..7])
    assert rows == [
        (1, 0, 4, "t1 t2 t3 t4"),
        (1, 1, 4, "t3 t4 t5 t6"),
        (1, 2, 3, "t5 t6 t7"),
        (2, 0, 2, "a b"),
    ]
    # consecutive chunks share exactly `overlap` tokens


def test_similar_docs_topk_ordering(spark):
    from clickestream_project_bigdata_spark.operators.text import similar_docs_topk

    docs = spark.createDataFrame(
        [
            (0, "apple banana cherry"),
            (1, "apple banana cherry"),      # identical -> jaccard 1
            (2, "apple banana grape"),       # 2/4
            (3, "kiwi melon"),               # 0
        ],
        "doc_id long, text string",
    )
    rows = similar_docs_topk(docs, query_id=0, k=3).collect()
    assert [(r.doc_id, r.jaccard) for r in rows] == [(1, 1.0), (2, 0.5), (3, 0.0)]


def test_collocations_pmi_ranking_and_exact_score(spark):
    """PMI ratio ranks the exclusive pair above the promiscuous one, and
    score_ppm is the exact integer (c_ab*n*1e6) DIV (c_a*c_b)."""
    from clickestream_project_bigdata_spark.operators.text import collocations

    # 'new york' always together (5x); 'the cat'/'the dog' split 'the'
    docs = spark.createDataFrame(
        [(i, "new york the cat the dog") for i in range(5)],
        "doc_id long, text string",
    )
    rows = collocations(docs, k=10, min_count=5).collect()
    got = {(r.token_a, r.token_b): (r.n_pair, r.score_ppm) for r in rows}
    # corpus: 5 docs x 6 tokens = 30 tokens; c(new)=c(york)=5, c(the)=10,
    # c(cat)=c(dog)=5
    assert got[("new", "york")] == (5, 5 * 30 * 1_000_000 // (5 * 5))
    assert got[("the", "cat")] == (5, 5 * 30 * 1_000_000 // (10 * 5))
    # exclusive pair outranks the shared-unigram pairs
    assert rows[0].token_a == "new" and rows[0].token_b == "york"
    # cross-doc boundary bigrams don't exist: ('dog','new') never forms
    assert ("dog", "new") not in got


def test_type_token_ratio_integer_exact(spark):
    from clickestream_project_bigdata_spark.operators.text import type_token_ratio

    docs = spark.createDataFrame(
        [
            (1, "a a a b", "s1"),     # 4 tokens, 2 types
            (2, "a b c", "s1"),       # s1 total: 7 tokens, 3 types
            (3, "x y z", "s2"),       # 3 tokens, 3 types -> ppm 1_000_000
        ],
        "doc_id long, text string, source string",
    )
    got = {r.source: r for r in type_token_ratio(docs, by="source").collect()}
    assert (got["s1"].n_docs, got["s1"].n_tokens, got["s1"].n_types) == (2, 7, 3)
    assert got["s1"].ttr_ppm == 3 * 1_000_000 // 7
    assert got["s2"].ttr_ppm == 1_000_000


def test_source_vocab_overlap_hand_computed(spark):
    """src a: {x,y}; src b: {y,z}; src c: {q} — only (a,b) intersect, with
    Jaccard 1/3; token repetition inside a source doesn't inflate vocab."""
    from clickestream_project_bigdata_spark.operators.text import source_vocab_overlap

    docs = spark.createDataFrame(
        [
            (1, "x y", "a"),
            (2, "y y", "a"),
            (3, "y z", "b"),
            (4, "q", "c"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {(r.source_a, r.source_b): r for r in source_vocab_overlap(docs).collect()}
    assert set(rows) == {("a", "b")}
    r = rows[("a", "b")]
    assert (r.vocab_a, r.vocab_b, r.vocab_shared) == (2, 2, 1)
    assert r.jaccard == round(1 / 3, 6)


def test_vocab_growth_hand_computed(spark):
    """doc1 'a b a' (2 new), doc2 'b c' (1 new), doc3 'a' (0 new) —
    cumulative tokens 3/5/6, vocab 2/3/3; a 40-doc corpus matches a plain
    Python running sum."""
    from clickestream_project_bigdata_spark.operators.text import vocab_growth

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "a")], "doc_id long, text string"
    )
    rows = vocab_growth(docs).collect()
    assert [
        (r.doc_id, r.n_tokens, r.cum_tokens, r.n_new_types, r.vocab_size)
        for r in rows
    ] == [(1, 3, 3, 2, 2), (2, 2, 5, 1, 3), (3, 1, 6, 0, 3)]

    # 40 docs span every range partition, so each partition after the
    # first adds a nonzero offset; some docs have no tokens and, once the
    # 23-word vocabulary is used up, no new types
    texts = [
        " ".join(f"w{(i * 7 + j * 3) % 23}" for j in range(i % 6))
        for i in range(40)
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.n_tokens, r.cum_tokens, r.n_new_types, r.vocab_size)
        for r in vocab_growth(docs).collect()
    )
    want, seen, cum = [], set(), 0
    for i, t in enumerate(texts):
        toks = t.split()
        new = set(toks) - seen
        seen |= new
        cum += len(toks)
        want.append((i, len(toks), cum, len(new), len(seen)))
    assert got == want


def test_distinctive_terms_odds_ratio(spark):
    """Source a says 'zebra' 3x (absent in b) -> zebra tops a's table;
    shared filler ranks below. Hand-check of the smoothed ppm odds."""
    from clickestream_project_bigdata_spark.operators.text import distinctive_terms

    docs = spark.createDataFrame(
        [
            (1, "a", "zebra zebra zebra the the the"),
            (2, "b", "the the the the yak yak yak"),
        ],
        "doc_id long, source string, text string",
    )
    rows = distinctive_terms(docs, k=2, min_count=3).collect()
    a = [(r.term, r.rank) for r in rows if r.source == "a"]
    assert a[0] == ("zebra", 1)
    r0 = [r for r in rows if r.source == "a"][0]
    # c_s=3, n_s=6, c_r=0, n_r=7 -> (4 * 8 * 1e6) // (4 * 1) = 8_000_000
    assert r0.odds_ppm == 8_000_000 and (r0.n_source, r0.n_rest) == (3, 0)
    b = [(r.term, r.rank) for r in rows if r.source == "b"]
    assert b[0][0] == "yak"


def test_langid_confusion_cells(spark):
    """Two 'en'-labeled docs (one predicted en, one unmatched -> unknown)
    and one 'es' doc predicted es: cells and per-row recall check out."""
    from clickestream_project_bigdata_spark.operators.text import langid_confusion

    docs = spark.createDataFrame(
        [
            (1, "en", "the cat and the dog"),
            (2, "en", "zzz qqq"),
            (3, "es", "el que la casa"),
        ],
        "doc_id long, lang string, text string",
    )
    got = {(r.lang, r.predicted_lang): r for r in langid_confusion(docs).collect()}
    assert got[("en", "en")].n_docs == 1 and got[("en", "en")].recall == 0.5
    assert got[("en", "unknown")].recall == 0.5
    assert got[("es", "es")].recall == 1.0
