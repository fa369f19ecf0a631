"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):

* **exact**: group by a 128-bit digest of the normalized text — the shuffle
  key is 16 bytes, not the document. One shuffle, arbitrarily wide corpus.
* **ngram_jaccard**: exact set-similarity join with cheap blocking; the
  self-join is quadratic *within a block*, so blocks must stay small. It is
  the verifier/oracle for the sketch methods, not the 100 TB path.
* **minhash_lsh**: the 100 TB path. Shingle → K minhashes → B bands; a pair
  collides if any band matches. Cost is linear in corpus size + candidate
  pairs; no quadratic term. All hashing is ``xxhash64`` JVM-side.
* **simhash**: 64-bit signature; near-dup ⇔ small Hamming distance; banding
  on 16-bit chunks gives the candidate join the same linear shape.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.portable import P31, minhash_seeds, phash60
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


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str = "n_chars",
    block_width: int = 64,
    max_bitset_vocab: int = 64,
    small_vocab: bool | None = None,
    probe_docs: int = 256,
    max_pairs: int | None = 10_000_000_000,
) -> DataFrame:
    """Exact word-set Jaccard over blocked candidate pairs.

    Blocking: equal ``block_col // block_width`` (near-dups have similar
    lengths). Quadratic within a block — keep blocks ≪ 10⁴ docs; use
    :func:`minhash_lsh_pairs` when they aren't.

    TIER CONTRACT (SCALING.md): this operator is the EXACT-VERIFY tier —
    the oracle/verifier for the sketch methods and the right tool when
    blocks are genuinely small. It is NOT the 100 TB path: its cost is
    Σ_b n_b² over blocks, and nothing about the API shape would stop a
    user pointing it at a corpus where one length-block holds millions of
    near-identical docs. ``max_pairs`` is the guard: a cheap block census
    (ONE map-side-combined count over the slim block column — the only
    eager action, same bounded-probe discipline as ``small_vocab``)
    estimates the candidate-pair count, and past the cap the call FAILS
    FAST with a redirect to :func:`minhash_lsh_pairs` instead of
    launching a job that cannot finish. ``max_pairs=None`` disables the
    census (fully lazy, caller takes responsibility). The default admits
    the adversarial 100× checkpoint fixture (~8 G pairs, measured 489 s)
    with headroom but refuses genuinely unbounded blowups.

    Per-pair cost is the dominant term (pairs ≫ docs), so two exact
    optimizations apply:

    * union is derived arithmetically (``|A| + |B| − |A∩B|``) — one array op
      per pair instead of two;
    * **small-vocabulary fast path**: if the distinct token vocabulary fits
      in 64 symbols, each token set becomes one 64-bit bitset and the
      per-pair work collapses to two ``bit_count``s of long AND/OR — no
      array handling at all. Same results bit-for-bit (it *is* the same set
      algebra); the general array path remains for real-corpus vocabularies.

    ``small_vocab`` gates the probe that decides the fast path (correctness
    of the bitset requires enumerating the FULL vocabulary, which scans the
    corpus at plan-construction time — an eager action a lazy operator
    shouldn't run unasked):

    * ``False`` — no vocab probe (array path); combine with
      ``max_pairs=None`` for a FULLY lazy plan with zero eager actions.
    * ``True`` — caller asserts the vocab is tiny: run the full probe
      (still falls back to the array path if it finds > ``max_bitset_vocab``).
    * ``None`` (default) — probe only the first ``probe_docs`` documents
      (bounded work); only if THAT sample's vocab already fits does the full
      enumeration run. Real corpora blow the 64-token budget within a few
      documents, so the unbounded scan is reached only when the corpus
      genuinely is bitset-shaped (where the scan is repaid immediately).
    """
    # toks are sorted ONCE per document: the set algebra below is
    # order-insensitive, and pre-sorted arrays make per-pair SET EQUALITY a
    # plain array compare — the exact-duplicate fast path (see `jac` below)
    d = docs.select(
        F.col(id_col),
        F.array_sort(F.array_distinct(tokens_col(F.col(text_col)))).alias(
            "toks"
        ),
        (F.col(block_col) / block_width).cast("long").alias("block"),
    )

    if max_pairs is not None:
        est = (
            docs.select(
                (F.col(block_col) / block_width).cast("long").alias("block")
            )
            .groupBy("block")
            .agg(F.count("*").alias("__n"))
            .agg(
                F.coalesce(
                    F.sum(F.col("__n") * (F.col("__n") - 1) / 2), F.lit(0.0)
                ).alias("__pairs")
            )
            .collect()[0]["__pairs"]
        )
        if est > max_pairs:
            raise ValueError(
                f"ngram_jaccard_pairs: blocked candidate-pair estimate "
                f"{est:.3g} exceeds max_pairs={max_pairs:.3g}. This is the "
                f"exact-verify tier (quadratic within a length block); use "
                f"minhash_lsh_pairs for corpora at this density, or pass "
                f"max_pairs=None to override."
            )

    def probe_vocab(frame: DataFrame) -> list:
        return [
            r[0]
            for r in frame.select(F.explode("toks").alias("t"))
            .distinct()
            .limit(max_bitset_vocab + 1)
            .collect()
        ]

    vocab: list = []
    if small_vocab is not False:
        if small_vocab is None:
            sampled = probe_vocab(d.limit(probe_docs))
            sample_fits = bool(sampled) and len(sampled) <= max_bitset_vocab
        else:
            sample_fits = True
        if sample_fits:
            vocab = probe_vocab(d)
    if vocab and len(vocab) <= max_bitset_vocab:
        ordered = sorted(vocab)

        def bit_of(t: Column) -> Column:
            c = F.when(t == ordered[0], F.lit(1 << 0).cast("long"))
            for i, tok in enumerate(ordered[1:], start=1):
                c = c.when(t == tok, F.lit(1 << i).cast("long"))
            return c.otherwise(F.lit(0).cast("long"))

        d = d.select(
            F.col(id_col),
            F.col("block"),
            F.aggregate(
                "toks",
                F.lit(0).cast("long"),
                lambda acc, t: acc.bitwiseOR(bit_of(t)),
            ).alias("bits"),
        )
        a, b = d.alias("a"), d.alias("b")
        inter = F.bit_count(F.col("a.bits").bitwiseAND(F.col("b.bits")))
        union = F.bit_count(F.col("a.bits").bitwiseOR(F.col("b.bits")))
        jac = inter.cast("double") / union
    else:
        a, b = d.alias("a"), d.alias("b")
        # Exact-duplicate fast path: with per-doc sorted token sets, array
        # equality IS set equality, so identical pairs score 1.0 from an
        # O(n) early-exit compare instead of array_intersect's per-pair
        # hash-set build. Training corpora are exact-dup heavy (and the
        # 100x checkpoint fixture is ALL exact dups — this path cut its
        # dominant per-pair term); non-dup pairs fail the compare on the
        # first element and fall through to the same arithmetic as before.
        # The empty-empty guard keeps 0/0 pairs NULL (filtered), as the
        # oracle computes them.
        inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
        union = F.size("a.toks") + F.size("b.toks") - inter
        jac = F.when(
            (F.size("a.toks") > 0) & (F.col("a.toks") == F.col("b.toks")),
            F.lit(1.0),
        ).otherwise(inter.cast("double") / union)

    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def shingles_from_tokens(toks: Column, n: int = 2) -> Column:
    """Distinct word n-grams from a token array, via sequence/transform — no
    UDF. Pass a *materialized* token column: ``toks`` is referenced 2n+1
    times here, and an inlined split() expression would be re-evaluated for
    every reference at every gram position."""
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
    )
    # Guard: for a doc with fewer than n tokens the sequence stop is negative
    # (a DESCENDING sequence) and element_at would hit an out-of-range index.
    # Such docs have zero n-grams — CaseWhen evaluates branches lazily, so the
    # descending sequence is never built.
    return F.when(
        F.size(toks) >= n, F.array_distinct(F.transform(idx, gram))
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(text: Column, n: int = 2) -> Column:
    """Distinct word n-grams straight from a text column. Convenience for
    small frames/tests; hot paths should stage tokens first
    (see :func:`minhash_signatures`)."""
    return shingles_from_tokens(tokens_col(text), n)


def minhash_from_shingles(shingles: Column, num_hashes: int = 64) -> Column:
    """K independent minhashes: min over shingles of ``xxhash64(seed_j, s)``.
    All Catalyst expressions — K codegen'd passes over the array.

    IMPORTANT: pass a *materialized column* (select the shingle array into its
    own projection first). Inlining the shingle-construction expression here
    would rebuild the array K times per row — measured 20× slower at sf0.1.
    """
    def one_hash(j: int) -> Column:
        return F.array_min(F.transform(shingles, lambda s: F.xxhash64(F.lit(j), s)))

    return F.array(*[one_hash(j) for j in range(num_hashes)])


#: Affine-permutation constants for the numpy minhash family: g_j(h) =
#: A[j]·h + B[j] (mod 2⁶⁴). Odd multipliers → bijections; seeds fixed for
#: reproducibility across runs/workers.
_MINHASH_PRIME_SEED = 0x9E3779B97F4A7C15


def _minhash_pandas(
    docs_hashed: DataFrame, num_hashes: int, id_col: str, hash: str = "xx"
) -> DataFrame:
    """numpy minhash over pre-hashed shingles: for each row, K affine
    permutations of the base-hash vector, min per permutation — one
    (53×K) broadcast op per document.

    ``hash="xx"``: permutations mod 2⁶⁴ (wrap-around native to numpy
    uint64; Catalyst's ANSI mode forbids it JVM-side). ``hash="portable"``:
    permutations mod 2³¹−1 over md5-derived 31-bit base hashes — exact in
    int64, reproducible in any SQL engine (functions/portable.py)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if hash == "portable":
        a_co, b_co = minhash_seeds(num_hashes)
        A = np.asarray(a_co, dtype=np.int64)
        B = np.asarray(b_co, dtype=np.int64)
    else:
        rng = np.random.default_rng(_MINHASH_PRIME_SEED % (2**32))
        A = (rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
        B = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("minhash", T.ArrayType(T.LongType())),
        ]
    )

    def batches(it):
        for pdf in it:
            sigs = []
            for hs in pdf["__sh_hashes"]:
                if len(hs) == 0:
                    sigs.append(np.full(num_hashes, 2**63 - 1, dtype=np.int64))
                    continue
                if hash == "portable":
                    h = np.asarray(hs, dtype=np.int64)
                    # (n_shingles × K): products < 2^62, exact in int64
                    g = (h[:, None] * A[None, :] + B[None, :]) % P31
                    sigs.append(g.min(axis=0))
                else:
                    h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                    # (n_shingles × K) affine permutations, min over shingles
                    g = h[:, None] * A[None, :] + B[None, :]
                    sigs.append(g.min(axis=0).astype(np.int64))
            yield pd.DataFrame({id_col: pdf[id_col], "minhash": [list(s) for s in sigs]})

    return docs_hashed.mapInPandas(batches, out_schema)


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    shingle_n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "pandas",
    hash: str = "xx",
) -> DataFrame:
    """(id, minhash) — staged projections so each intermediate (tokens,
    shingles, base hashes) is built once per row (Catalyst's CollapseProject
    keeps the boundaries when collapsing would duplicate non-cheap
    expressions).

    ``method="pandas"`` (default): each shingle is hashed ONCE JVM-side,
    then the K-permutation min runs as a vectorized numpy broadcast in
    ``mapInPandas`` — higher-order Catalyst folds evaluate interpreted
    per-element and were measured 3-4× slower for K=64. ``method="sql"``
    keeps the pure-Catalyst fold (zero Python, for environments where the
    Arrow path is unavailable).

    ``hash="xx"`` (default): xxhash64 base hashes — fastest, Spark-only.
    ``hash="portable"``: md5-derived 31-bit base hashes + mod-(2³¹−1)
    permutations (functions/portable.py) — bit-reproducible by any SQL
    engine, which is what lets the DuckDB oracle hash-check the LSH output."""
    staged = (
        docs.select(F.col(id_col), tokens_col(F.col(text_col)).alias("__toks"))
        .select(
            F.col(id_col),
            shingles_from_tokens(F.col("__toks"), shingle_n).alias("shingles"),
        )
    )
    base = (
        (lambda s: phash60(s) % P31) if hash == "portable" else (lambda s: F.xxhash64(s))
    )
    if method == "pandas":
        hashed = staged.select(
            F.col(id_col),
            F.transform(F.col("shingles"), base).alias("__sh_hashes"),
        )
        return _minhash_pandas(hashed, num_hashes, id_col, hash)
    if hash == "portable":
        a_co, b_co = minhash_seeds(num_hashes)
        hashed = staged.select(
            F.col(id_col), F.transform(F.col("shingles"), base).alias("__sh_hashes")
        )
        return hashed.select(
            F.col(id_col),
            F.array(
                *[
                    F.array_min(
                        F.transform(
                            "__sh_hashes",
                            lambda h, j=j: (F.lit(a_co[j]) * h + F.lit(b_co[j])) % F.lit(P31),
                        )
                    )
                    for j in range(num_hashes)
                ]
            ).alias("minhash"),
        )
    return staged.select(
        F.col(id_col),
        minhash_from_shingles(F.col("shingles"), num_hashes).alias("minhash"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 2,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify: bool = True,
    hash: str = "xx",
    max_bucket_rows: int = 4096,
    salt_buckets: int | None = 16,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding.

    CONSTRUCTION-TIME COST — with ``salt_buckets > 1`` (the default) this
    function is NOT lazy: the skew census below runs ``big_keys.take(1)``
    at CALL time, and although its output is one row, the work behind it
    is the full MinHash sketch of the corpus (the census reads the banded
    frame, which materializes the persisted signature table). Callers
    that only want to BUILD a plan — compose further filters/limits and
    trigger execution later — should pass ``salt_buckets=None`` (or
    ``<= 1``): that is the documented FULLY-LAZY mode, skipping census
    and salting entirely and returning a plan that computes nothing until
    an action runs. Same contract as ``ngram_jaccard_pairs``'s eager
    ``max_pairs`` census, which this guard deliberately mirrors.

    band size r = num_hashes/bands; collision prob ≈ 1-(1-j^r)^b. With the
    64/16 default, pairs at j≥0.7 are caught w.h.p. Candidates are generated
    by an equi-join on (band_idx, band_hash) — a plain shuffle join on a
    small key, linear at scale. ``verify=True`` re-checks candidates with
    exact shingle Jaccard (estimated similarity is also returned).

    Skew guard (``max_bucket_rows``): a band bucket holding n rows emits
    n(n-1)/2 pairs in the ONE task that owns its join key, so a
    template-duplicate corpus (many docs sharing every band) turns one
    bucket into a straggler — measured 6.57× worst-task/median on the
    adversarial all-dups fixture at the 100× checkpoint. Buckets over
    ``max_bucket_rows`` are SALTED: the left side gets a deterministic
    ``hash(id) % salt_buckets`` salt, the right side is replicated across
    all ``salt_buckets`` salt values, and the join key grows the salt —
    the bucket's pair work splits ~``salt_buckets`` ways while every pair
    (a, b) still meets exactly where a's salt lands (a replica of b
    exists at every salt), so the candidate set is IDENTICAL (superset
    property preserved; the trailing dropDuplicates already dedups
    multi-band hits). Small buckets keep the plain unsalted join — zero
    overhead on well-behaved corpora. The big-bucket census is one extra
    aggregation over the slim banded frame, bounded by
    ``N·bands/max_bucket_rows`` rows (broadcastable by construction).

    ``hash="portable"`` switches the whole sketch to the md5-derived
    primitives (functions/portable.py): base hashes, permutations, and a
    band key that is the plain ``'_'``-joined minhash run — every stage
    reproducible in DuckDB SQL, making this query oracle-hash-checkable.
    (At scale you would md5 the band key down to 16 bytes before the
    shuffle; the join is equality-only either way.)
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    salt_buckets = salt_buckets or 1  # None -> fully-lazy unsalted mode

    # Docs with fewer than shingle_n tokens have ZERO shingles: their Jaccard
    # is undefined and their sentinel signature would collide in every band —
    # a corpus with many empty/short docs would go quadratic on them (and the
    # verification's 0-size union divides by zero). Exclude them up front.
    eligible = docs.filter(F.size(tokens_col(F.col(text_col))) >= shingle_n)

    # The SLIM signature table (id + K longs — no text, no shingles) feeds
    # three plans (banding + both pair sides); persist it so the shingle/hash
    # work runs once. MEMORY_AND_DISK degrades gracefully — same pattern as
    # Spark MLlib's MinHashLSH.approxSimilarityJoin.
    sig = minhash_signatures(
        eligible, num_hashes, shingle_n, text_col, id_col, hash=hash
    ).persist(StorageLevel.MEMORY_AND_DISK)

    if hash == "portable":
        band_arr = F.array(
            *[
                F.concat_ws(
                    "_", *[F.element_at("minhash", bi * r + j + 1) for j in range(r)]
                )
                for bi in range(bands)
            ]
        )
    else:
        band_arr = F.array(
            *[
                F.xxhash64(F.lit(bi), *[F.element_at("minhash", bi * r + j + 1) for j in range(r)])
                for bi in range(bands)
            ]
        )
    # Candidate generation on a SLIM table: (id, band_idx, band_hash) only.
    # The signature/shingle arrays never enter the explode or the join
    # shuffle; they are re-attached to the (few) surviving pairs below.
    # Deliberately NEITHER checkpointed NOR persisted: each consumer
    # (census, salted-join sides) re-derives the cheap posexplode from the
    # PERSISTED sig — a localCheckpoint's unknown stats invited the
    # planner to broadcast the whole multi-million-row banded side of the
    # pair self-join (driver OOM at the 100x checkpoint), and a persist of
    # the exploded rows measured ~15% slower than recomputing the slim
    # projection from sig's columnar cache.
    banded = sig.select(
        F.col(id_col), F.posexplode(band_arr).alias("band_idx", "band_hash")
    )

    def _pairs(frame: DataFrame) -> DataFrame:
        a, b = frame.alias("a"), frame.alias("b")
        return a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )

    raw_pairs = None
    if salt_buckets > 1:
        band_keys = ["band_idx", "band_hash"]
        big_keys = (
            banded.groupBy(*band_keys)
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_bucket_rows)
            .select(*band_keys)
        )
        # eager census probe (one tiny action; it also materializes the
        # banded cache every later plan reads): the SPLIT machinery below
        # costs a measured ~20% of the pair join, so a corpus with NO big
        # buckets — the common case — must not pay it. Same bounded-probe
        # discipline as ngram_jaccard_pairs' max_pairs guard.
        if not big_keys.take(1):
            raw_pairs = _pairs(banded)
    if raw_pairs is None and salt_buckets > 1:
        # UNIFIED salted join — one pair join, not an anti/semi split: a
        # split spelling (plain join over the small buckets UNIONed with a
        # salted join over the big ones) was measured ~65% slower at the
        # 100x checkpoint (four separate cache scans of banded plus a
        # second sort-merge sort pair). Here each side takes ONE extra
        # broadcast-left probe against the (bounded) big-key set; rows in
        # small buckets carry salt 0 on both sides (single b replica), big
        # buckets get hash(id)%S on the left and all S replicas on the
        # right. Candidate set identical either way.
        marked = banded.join(
            F.broadcast(big_keys.withColumn("__big", F.lit(True))),
            band_keys,
            "left",
        )
        a_s = marked.withColumn(
            "__salt",
            F.when(
                F.col("__big"),
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)).cast(
                    "int"
                ),
            ).otherwise(F.lit(0)),
        )
        b_s = marked.withColumn(
            "__salt",
            F.explode(
                F.when(
                    F.col("__big"),
                    F.sequence(F.lit(0), F.lit(salt_buckets - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        raw_pairs = a_s.alias("a").join(
            b_s.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.__salt") == F.col("b.__salt"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
    elif raw_pairs is None:
        raw_pairs = _pairs(banded)

    pair_ids = (
        raw_pairs.dropDuplicates(["doc_a", "doc_b"])
        # also tiny (two ids per row) and consumed twice: by the final pair
        # assembly and by the verification semi-join below.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = pair_ids.join(
        sig.select(F.col(id_col).alias("doc_a"), F.col("minhash").alias("mh_a")),
        "doc_a",
    ).join(
        sig.select(F.col(id_col).alias("doc_b"), F.col("minhash").alias("mh_b")),
        "doc_b",
    )

    est = (
        F.size(
            F.filter(
                F.zip_with("mh_a", "mh_b", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(num_hashes)
    )
    out = cand.withColumn("est_jaccard", F.round(est, 6))
    if verify:
        # Exact-Jaccard verification rebuilds shingles ONLY for documents
        # that appear in a candidate pair (semi-join first) — at scale the
        # candidate set is vanishingly small next to the corpus, so the
        # heavyweight arrays never exist for non-candidates.
        involved = (
            out.select(F.explode(F.array("doc_a", "doc_b")).alias(id_col)).distinct()
        )
        sh = (
            docs.join(involved, id_col, "left_semi")
            .select(F.col(id_col), tokens_col(F.col(text_col)).alias("__toks"))
            .select(
                F.col(id_col),
                shingles_from_tokens(F.col("__toks"), shingle_n).alias("shingles"),
            )
        )
        out = out.join(
            sh.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a")),
            "doc_a",
        ).join(
            sh.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b")),
            "doc_b",
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        out = out.withColumn("jaccard", F.round(inter.cast("double") / union, 6)).filter(
            F.col("jaccard") >= threshold
        )
    return out.select("doc_a", "doc_b", "est_jaccard", *(["jaccard"] if verify else []))


def dedup_apply(
    docs: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xx",
    **lsh_kwargs,
) -> DataFrame:
    """The APPLY form of near-dup dedup: return the corpus with exact AND
    near duplicates removed (each cluster keeps its minimum id) — what a
    pipeline materializes, where the pair/cluster operators only report:

    1. exact dedup, keep lowest id per normalized text;
    2. MinHash+LSH candidate pairs at ``threshold`` (exact-verified);
    3. connected components → drop every non-minimum member.

    The exact-deduped frame feeds the LSH pass AND the final anti-join, so
    it is materialized once (see plans.scale.materialize_once). Scale shape
    is inherited stage-for-stage from the library operators; with
    ``hash="portable"`` the whole thing is oracle-replayable."""
    from ..plans.scale import materialize_once

    kept = materialize_once(dedup_keep_first(docs, text_col, id_col))
    pairs = minhash_lsh_pairs(
        kept, threshold=threshold, text_col=text_col, id_col=id_col,
        hash=hash, **lsh_kwargs,
    )
    losers = (
        duplicate_clusters(pairs)
        .filter(F.col("cluster_id") != F.col("doc_id"))
        .select(F.col("doc_id").alias(id_col))
    )
    return kept.join(losers, id_col, "left_anti")


def similar_visitors_minhash(
    events: DataFrame,
    threshold: float = 0.4,
    num_hashes: int = 126,
    bands: int = 42,
    hash: str = "xx",
    **lsh_kwargs,
) -> DataFrame:
    """Near-duplicate VISITORS by item-set MinHash — the bot-ring /
    duplicate-account detector: two visitors whose browsed ITEM SETS have
    Jaccard ≥ ``threshold`` become CANDIDATES with LSH banding recall
    ``1 - (1 - j^r)^bands`` (r = num_hashes/bands) and every candidate
    is exact-verified, so banding only ever limits RECALL, never
    precision. The 42-band/r=3 default catches a j=0.4 pair with
    p ≈ 0.938 (j=0.5: 0.996, j=0.6: 0.99996) — r=3 is the MEASURED
    scale constraint, band COUNT is the recall lever (VERDICT r13 #6):
    r=4 (the 16×4 document preset) catches only ~34% at j=0.4, while
    r=2 (32 bands, ~99.6% recall) is a candidate-volume catastrophe at
    visitor grain, because background inter-visitor Jaccard is nonzero
    EVERYWHERE (all sets share the heavy-tailed head items, j ≈ 0.03
    between random visitors): per-band collision j^2 ≈ 1e-3 over all
    visitor pairs emitted ~3×10^8 candidates at the 150k-visitor/100x
    fixture and >78 GB of verify-join spill, where r=3's j^3 ≈ 3e-5
    keeps candidates in the low millions — doubling the r=3 bands
    21 → 42 doubles background candidates (still millions, ~1e4× under
    the r=2 cliff) and lifts j=0.4 recall 0.74 → 0.94. Raise ``bands``
    only at r ≥ 3, and only with the candidate volume re-measured.
    The clickstream twin of document near-dup, at visitor grain.

    Visitor-as-document: each visitor's text is its ascending distinct
    itemid list space-joined, and ``shingle_n=1`` makes the shingle set
    literally the item set — so the verified ``jaccard`` column IS exact
    set Jaccard, and the whole MinHash/banding/verify machinery (census-
    gated salting included) is reused unchanged. One extra exchange on
    visitorid builds the item sets; everything after is
    :func:`minhash_lsh_pairs`'s linear LSH shape, so 1B visitors cost
    what 1B short documents cost. With ``hash="portable"`` the oracle
    replays buckets and scores exactly.

    Output: (visitor_a, visitor_b, est_jaccard, jaccard)."""
    vdocs = (
        events.filter(F.col("itemid").isNotNull())
        .groupBy("visitorid")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_set("itemid")),
                    lambda x: x.cast("string"),
                ),
            ).alias("text")
        )
    )
    pairs = minhash_lsh_pairs(
        vdocs,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=1,
        threshold=threshold,
        text_col="text",
        id_col="visitorid",
        hash=hash,
        **lsh_kwargs,
    )
    return pairs.select(
        F.col("doc_a").alias("visitor_a"),
        F.col("doc_b").alias("visitor_b"),
        "est_jaccard",
        "jaccard",
    )


#: Propagation rounds between lineage-truncating checkpoints of the
#: distributed :func:`duplicate_clusters` loop.
_CHECKPOINT_INTERVAL = 3


def duplicate_clusters(
    pairs: DataFrame, max_edges_local: int = 100_000
) -> DataFrame:
    """Connected components over a near-duplicate ``(doc_a, doc_b)`` pair
    graph → duplicate clusters: (doc_id, cluster_id = minimum id
    reachable).

    Distributed iterative min-label propagation (the large-star/small-star
    idea in its simplest form): each round joins every node's current label
    against the edge list and takes the min of its neighbors' labels;
    converges in O(diameter) rounds — near-dup clusters are shallow (stars/
    cliques), so typically 2-3. Each iteration is one shuffle join + one
    aggregation; intermediate labels are persisted and the loop exits via a
    cheap convergence count once no label changes. Labels only decrease
    and are bounded below by the component minimum, so that takes at most
    diameter + 1 rounds. No driver-side graph state — scales to billions
    of edges.

    Every ``_CHECKPOINT_INTERVAL`` rounds the label frame is
    ``localCheckpoint(eager=True)``'d: persist alone caches *data* but the
    logical plan still nests one join per round, so a long chain would
    carry one join pair per round into every subsequent action (analysis
    cost grows superlinearly, and a lost cached partition would recompute
    the whole chain). Checkpointing truncates the lineage to the
    materialized result.

    **Small-graph fast path**: near-dup edge sets are usually tiny next to
    the corpus (the pairs already survived LSH + exact verification). When
    the deduped edge list holds at most ``max_edges_local`` rows (two ids
    each — bounded driver MBs), a driver-side union-find computes the
    identical min-label components in one pass instead of paying several
    Spark jobs per propagation round. The distributed loop remains the path
    for genuinely large graphs; results are identical by construction.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    if max_edges_local and edges.count() <= max_edges_local:
        local = edges.collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in local:
            s, d = r["src"], r["dst"]
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                # attach the larger root under the smaller → every root is
                # its component's minimum id, matching min-label propagation
                if rs < rd:
                    parent[rd] = rs
                else:
                    parent[rs] = rd

        spark = pairs.sparkSession
        id_type = edges.schema["src"].dataType
        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField("doc_id", id_type), T.StructField("cluster_id", id_type)]
        )
        rows = [(x, find(x)) for x in parent]
        edges.unpersist()
        return spark.createDataFrame(rows, schema)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    for it in itertools.count(1):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("cluster_id").alias("neighbor_label"))
            .withColumnRenamed("src", "id")
        )
        new_labels = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("neighbor_label"), F.col("cluster_id")),
            ).alias("cluster_id"),
        )
        if it % _CHECKPOINT_INTERVAL == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist(StorageLevel.MEMORY_AND_DISK)
        changed = (
            labels.withColumnRenamed("cluster_id", "old")
            .join(new_labels, "id")
            .filter(F.col("old") != F.col("cluster_id"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break

    # Materialize + truncate before handing the result out: the converged
    # labels otherwise carry the whole iterative plan, and downstream
    # consumers (anti-joins, rollups) re-analyze/re-run it per action —
    # unpersisting edges below can also cascade-invalidate the lazy cache.
    labels = labels.localCheckpoint(eager=True)
    edges.unpersist()
    return labels.select(F.col("id").alias("doc_id"), "cluster_id")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_bit_sums(tokens: Column, bits: int = 64, hash: str = "xx") -> Column:
    """Per-bit ±1 sums over token hashes — one fold over the token array
    carrying an int-array accumulator, all in codegen. (Shift amounts must be
    Python ints for Catalyst's shiftright, hence the unrolled array.)"""
    def bit_vec(t: Column) -> Column:
        h = phash60(t) if hash == "portable" else F.xxhash64(t)
        return F.array(
            *[
                F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                for i in range(bits)
            ]
        )

    return F.aggregate(
        tokens,
        F.array_repeat(F.lit(0), bits),
        lambda a, t: F.zip_with(a, bit_vec(t), lambda x, y: x + y),
    )


def _pack_bits(acc_col: Column, bits: int = 64) -> Column:
    """bit i = 1 iff acc[i] > 0, packed into one signed 64-bit long."""
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.when(
            F.element_at(acc_col, i + 1) > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
    return out


def simhash_signatures(
    docs: DataFrame,
    bits: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "pandas",
    hash: str = "xx",
) -> DataFrame:
    """Classic SimHash: ``bits``-wide signature per document.

    ``method="pandas"`` (default): tokens are hashed ONCE JVM-side, then
    the per-bit ±1 sums + sign-pack run as vectorized numpy bit math in
    ``mapInPandas``. Same base hash as the Catalyst path → **bit-identical
    signatures**, ~3× faster (the Catalyst fold builds a 64-wide when()
    array per token, evaluated interpreted). ``method="sql"`` keeps the
    pure-Catalyst fold (two-step select so the accumulator is materialized
    once, not inlined 64×).

    ``hash="portable"``: md5-derived 60-bit base hashes — use ``bits=60``
    with it (the hash has no entropy above bit 59); signatures are then
    reproducible in DuckDB SQL."""
    base = (
        (lambda t: phash60(t)) if hash == "portable" else (lambda t: F.xxhash64(t))
    )
    if method == "pandas":
        hashed = docs.select(
            F.col(id_col),
            F.transform(tokens_col(F.col(text_col)), base).alias("__tok_hashes"),
        )
        return _simhash_pandas(hashed, bits, id_col)
    return (
        docs.select(
            F.col(id_col),
            simhash_bit_sums(tokens_col(F.col(text_col)), bits, hash).alias("__acc"),
        )
        .select(F.col(id_col), _pack_bits(F.col("__acc"), bits).alias("simhash"))
    )


def _simhash_pandas(docs_hashed: DataFrame, bits: int, id_col: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("simhash", T.LongType()),
        ]
    )
    weights = (np.uint64(1) << np.arange(bits, dtype=np.uint64)).astype(np.uint64)

    def batches(it):
        for pdf in it:
            sigs = []
            for hs in pdf["__tok_hashes"]:
                h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
                if h.size == 0:
                    sigs.append(0)
                    continue
                # (n_tokens × bits) bit matrix → ±1 sums → sign bits → pack
                bitmat = (h[:, None] >> np.arange(bits, dtype=np.uint64)[None, :]) & np.uint64(1)
                acc = 2 * bitmat.astype(np.int64).sum(axis=0) - h.size
                packed = int(weights[acc > 0].sum(dtype=np.uint64))
                sigs.append(packed - 2**64 if packed >= 2**63 else packed)
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": sigs})

    return docs_hashed.mapInPandas(batches, out_schema)


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash: str = "xx",
) -> DataFrame:
    """Near-dup candidates via SimHash banding (4 chunks of ``bits/4`` bits:
    any pair within Hamming distance ≤ 3 shares a chunk by pigeonhole; at
    distance 4+ the differing bits can land one per chunk, so wider
    distances are caught probabilistically, not guaranteed), verified by
    exact Hamming distance ≤
    ``max_hamming``. ``hash="portable"`` (pass ``bits=60`` with it) makes
    the signatures md5-derived and the whole query DuckDB-reproducible."""
    assert bits % 4 == 0
    chunk_bits = bits // 4
    chunk_mask = (1 << chunk_bits) - 1
    # Persisted: the (id, simhash) table is 16 bytes/doc and feeds both join
    # sides — without it the token-fold signature plan runs twice.
    sig = simhash_signatures(docs, bits, text_col, id_col, hash=hash).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    chunks = F.array(
        *[
            F.shiftright(F.col("simhash"), chunk_bits * c)
            .bitwiseAND(F.lit(chunk_mask))
            .alias(f"c{c}")
            for c in range(4)
        ]
    )
    banded = sig.select(
        F.col(id_col), F.col("simhash"), F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            ham.alias("hamming"),
        )
        # filter BEFORE the dedup shuffle: bit_count is free per candidate,
        # and only surviving pairs pay the exchange.
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


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


def dedup_method_agreement(
    docs: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    **minhash_kwargs,
) -> DataFrame:
    """QA diagnostic comparing the EXACT duplicate pair set against the
    MinHash+LSH near-dup pair set — the check you run before trusting a
    sketch-based dedup on a new corpus:

    * ``n_exact_only`` > 0 ⇒ LSH FALSE NEGATIVES on byte-identical docs
      (classically: documents shorter than the shingle width, which
      produce no shingles and can never band-collide);
    * ``n_minhash_only`` = the near-dup pairs exact matching cannot see —
      what the sketch buys you;
    * ``agreement_ppm`` = |∩|·10⁶ DIV |∪| (exact integers).

    Output: one row (n_exact_pairs, n_minhash_pairs, n_both,
    n_exact_only, n_minhash_only, agreement_ppm).

    Scale shape: exact pairs via a fingerprint self-join (shuffle on the
    16-byte digest; pair count is Σ group_size² — bounded in practice by
    dup-group sizes, the same bound `exact_dedup` consumers already
    accept); the MinHash side is the banded-LSH pair pipeline unchanged;
    the comparison is a full outer join of two slim pair frames."""
    fp = docs.select(
        F.col(id_col), F.md5(_norm_text(text_col)).alias("__fp")
    )
    a = fp.select(F.col("__fp"), F.col(id_col).alias("doc_a"))
    b = fp.select(F.col("__fp"), F.col(id_col).alias("doc_b"))
    exact_pairs = (
        a.join(b, "__fp").filter(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b")
    )
    mh_pairs = minhash_lsh_pairs(
        docs, threshold=threshold, text_col=text_col, id_col=id_col, **minhash_kwargs
    ).select("doc_a", "doc_b")
    tagged = (
        exact_pairs.withColumn("__e", F.lit(1))
        .join(mh_pairs.withColumn("__m", F.lit(1)), ["doc_a", "doc_b"], "full_outer")
        .select(
            F.coalesce(F.col("__e"), F.lit(0)).alias("__e"),
            F.coalesce(F.col("__m"), F.lit(0)).alias("__m"),
        )
    )
    return tagged.agg(
        F.sum("__e").cast("long").alias("n_exact_pairs"),
        F.sum("__m").cast("long").alias("n_minhash_pairs"),
        F.sum(F.col("__e") * F.col("__m")).cast("long").alias("n_both"),
        F.sum(F.col("__e") * (1 - F.col("__m"))).cast("long").alias("n_exact_only"),
        F.sum((1 - F.col("__e")) * F.col("__m")).cast("long").alias("n_minhash_only"),
    ).select(
        "n_exact_pairs",
        "n_minhash_pairs",
        "n_both",
        "n_exact_only",
        "n_minhash_only",
        F.coalesce(
            F.expr(
                "CAST((n_both * CAST(1000000 AS BIGINT)) DIV "
                "(n_exact_pairs + n_minhash_pairs - n_both) AS BIGINT)"
            ),
            F.lit(0),
        ).alias("agreement_ppm"),
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


def neardup_similarity_histogram(
    docs: DataFrame, bins: int = 20, **lsh_kwargs
) -> DataFrame:
    """Histogram of EXACT Jaccard over the MinHash-LSH candidate pairs,
    with the sketch's mean signed estimation error per bucket — the
    threshold-tuning diagnostic run before committing a near-dup cutoff
    (a bimodal histogram says 0.8 is safe; a smear across 0.5–0.9 says
    the corpus needs a different shingle width), and a live calibration
    check of the estimator (|mean error| growing in some band means the
    band/row config is off).

    ONE pass: candidates generate and verify exactly as
    :func:`minhash_lsh_pairs` (threshold 0 keeps every candidate), then
    collapse to ≤ ``bins`` rows; the error average accumulates in DECIMAL
    (both inputs are already 6-decimal-quantized, so differences are
    exact). Output (bucket, bucket_start, n_pairs, mean_est_error),
    bucket ASC."""
    pairs = minhash_lsh_pairs(docs, threshold=0.0, verify=True, **lsh_kwargs)
    b = F.least(
        F.floor(F.col("jaccard") * bins).cast("int"), F.lit(bins - 1)
    )
    err = (F.col("est_jaccard") - F.col("jaccard")).cast("decimal(9,6)")
    return (
        pairs.groupBy(b.alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(
                (F.sum(err) / F.count("*")).cast("double"), 6
            ).alias("mean_est_error"),
        )
        .select(
            "bucket",
            F.round(F.col("bucket") / F.lit(float(bins)), 6).alias("bucket_start"),
            "n_pairs",
            "mean_est_error",
        )
        .orderBy(F.asc("bucket"))
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


def neardup_cluster_sizes(clusters: DataFrame) -> DataFrame:
    """Cluster-size distribution of the near-duplicate graph — the shape
    diagnostic read right after :func:`duplicate_clusters`: a corpus of
    pair-dups (size 2) dedups cheaply, a few giant clusters mean a
    template/boilerplate problem that size-capped removal would mangle.
    Two stacked tiny aggregations on the (doc, cluster) assignment
    (cluster grain, then size grain — both collapse fast); exact
    integers. Output (cluster_size, n_clusters, n_docs)."""
    sz = clusters.groupBy("cluster_id").agg(F.count("*").alias("__s"))
    return sz.groupBy(F.col("__s").cast("long").alias("cluster_size")).agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("__s").cast("long").alias("n_docs"),
    )


def minhash_band_census(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash: str = "xx",
) -> DataFrame:
    """Band-bucket SIZE distribution of the MinHash banding — the skew
    diagnostic read BEFORE running :func:`minhash_lsh_pairs` on a new
    corpus: a bucket of n rows emits n(n-1)/2 candidate pairs in one
    join task, so this census is the direct predictor of pair-join
    stragglers (the 100× checkpoint's 6.57× straggler traces to an
    800-row bucket this census would have flagged; buckets past
    ``max_bucket_rows`` take the salted path). One extra aggregation
    over the slim banded frame — the same census
    :func:`minhash_lsh_pairs` runs internally, exposed at the API.

    Output: (bucket_size, n_buckets, n_rows) — how many (band, key)
    buckets hold exactly ``bucket_size`` signatures, heavy sizes last.
    ``hash="portable"`` makes it oracle-replayable in DuckDB SQL."""
    eligible = docs.filter(F.size(tokens_col(F.col(text_col))) >= shingle_n)
    sig = minhash_signatures(
        eligible, num_hashes, shingle_n, text_col, id_col, hash=hash
    )
    r = num_hashes // bands
    if hash == "portable":
        band_arr = F.array(
            *[
                F.concat_ws(
                    "_", *[F.element_at("minhash", bi * r + j + 1) for j in range(r)]
                )
                for bi in range(bands)
            ]
        )
    else:
        band_arr = F.array(
            *[
                F.xxhash64(F.lit(bi), *[F.element_at("minhash", bi * r + j + 1) for j in range(r)])
                for bi in range(bands)
            ]
        )
    banded = sig.select(
        F.col(id_col), F.posexplode(band_arr).alias("band_idx", "band_hash")
    )
    buckets = banded.groupBy("band_idx", "band_hash").agg(
        F.count("*").alias("__n")
    )
    return buckets.groupBy(F.col("__n").cast("long").alias("bucket_size")).agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("__n").cast("long").alias("n_rows"),
    )
