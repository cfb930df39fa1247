"""Iterative graph computation on DataFrames: PageRank over the
customer–supplier transaction graph.

The reference has no graph surface (it is an ORM —
``classes/hive/model.php``); this extends the driver-mandated Layer-B
breadth with the canonical *iterative* distributed algorithm, the shape
``llm/advanced.py::dedup_clusters`` (label propagation) introduced:
a driver-side loop composing pure DataFrame stages, no RDDs.

Scale notes: each iteration is one join (ranks x edges, both keyed by
the source node) and one dst-keyed aggregation — the classic two-
shuffle PageRank step. Hub nodes concentrate the dst aggregation; AQE
skew splitting handles that exchange. The fixed 3-iteration unroll
keeps the demo deterministic and oracle-checkable. Every loop that
checkpoints per round (converged PageRank, BFS, LPA, star-CC, k-core,
SCC) runs on :func:`hive_2_spark.core.fixpoint.fixpoint`. Doubles are
only rounded at the very end (per-iteration rounding would compound;
final drift is ~1e-12, far below the 1e-6 output grain).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.core.aggregates import _dk_hex_int
from hive_2_spark.core.fixpoint import fixpoint

_DAMPING = 0.85
_ITERS = 3
_TOPK = 20

# Broadcast the rank vector only while it plausibly fits executor memory
# (~16 bytes/node -> ~160 MB at the cap). Above it, each iteration joins
# ranks against src-pre-partitioned edges instead: the groupBy("dst")
# output is already hash-partitioned on the (renamed) join key, so the
# per-iteration join reuses both sides' partitioning — the flip costs one
# extra edge repartition up front, not a broadcast per round.
_BROADCAST_NODE_CAP = 10_000_000


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected bipartite customer–supplier edges, one edge per
    distinct trading pair, materialized in both directions so every
    node has out-degree >= 1 (no dangling-mass correction needed).

    Node ids are sign-encoded BIGINTs (customer k -> +k, supplier k ->
    -k): every shuffle/join/distinct in the hot loop moves 8-byte keys
    instead of strings; the display label ('c<k>'/'s<k>') is formatted
    once at output."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").cast("bigint").alias("cnode"),
            (-F.col("l_suppkey")).cast("bigint").alias("snode"),
        )
        .distinct()
    )
    fwd = pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst"))
    rev = pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"))
    return fwd.unionAll(rev)


# DuckDB twin of ``_edges``: the oracle CTEs ``pairs`` (cnode, snode)
# and ``edges`` (src, dst).
_DK_TRADE_EDGES = """pairs AS (
  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS cnode,
                  CAST(-l_suppkey AS BIGINT) AS snode
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), edges AS (
  SELECT cnode AS src, snode AS dst FROM pairs
  UNION ALL
  SELECT snode AS src, cnode AS dst FROM pairs
)"""


def _weighted_edges(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, bool]:
    """Materialized (src, dst, w=1/outdeg) edge list + whether the
    node-sized rank vector fits the broadcast gate.

    The raw edge list is localCheckpoint'ed ONCE (truncating the
    lineitem⋈orders⋈distinct lineage), then the out-degree folds into a
    per-edge weight with a BROADCAST join: deg is node-sized, so the
    10x-bigger edge list never shuffles for the weight join — without
    this, the edge pipeline ran twice (deg agg + join probe) and the
    join sort-merge-shuffled every edge (measured 6.5s -> ~2s at
    sf0.1 for the checkpoint; the broadcast deg cut the 10x fixture's
    build again). Blocks are freed by the ContextCleaner when the
    returned DataFrame is dereferenced. The cluster-scale equivalent
    is persist() + checkpoint() per N rounds."""
    edges = _edges(spark, sf_dir).localCheckpoint()
    # Gate on the EXACT node count, read off the degree aggregate the
    # weight join needs anyway (deg is node-sized; checkpointing it
    # costs one pass over the already-materialized edges and lets the
    # count and the join share the same materialization). The earlier
    # edge-count upper bound erred by the average degree — the 100x
    # scale fixture (97M edges, 1.6M nodes) flipped to the shuffle-join
    # path 60x before the rank vector actually outgrew the broadcast
    # budget, measured as a 1.08 exponent on the 10x->100x leg.
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint()
    )
    broadcast_ranks = deg.count() <= _BROADCAST_NODE_CAP
    deg_side = F.broadcast(deg) if broadcast_ranks else deg
    edges_w = (
        edges.join(deg_side, "src")
        .select("src", "dst", (1.0 / F.col("deg")).alias("w"))
        .localCheckpoint()
    )
    if not broadcast_ranks:
        edges_w = edges_w.repartition("src").localCheckpoint()
    return edges_w, broadcast_ranks


# DuckDB twin of ``_weighted_edges``: ``_DK_TRADE_EDGES`` plus the
# out-degrees ``deg`` (src, deg) and ``edges_w`` (src, dst, w = 1/deg).
_DK_WEIGHTED_EDGES = f"""{_DK_TRADE_EDGES}, deg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
), edges_w AS MATERIALIZED (
  SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / deg.deg AS w
  FROM edges e JOIN deg ON e.src = deg.src
)"""


def _node_label(col: str):
    return F.when(
        F.col(col) >= 0, F.concat(F.lit("c"), F.col(col).cast("string"))
    ).otherwise(F.concat(F.lit("s"), (-F.col(col)).cast("string")))


def _pagerank_step(
    edges_w: DataFrame, ranks: DataFrame, broadcast_ranks: bool, restart
) -> DataFrame:
    """One power-iteration step: rank(v) = restart + d * sum_in(rank(u)
    * w_u). ``restart`` is a Column over ``dst`` (the teleport term).

    ranks is node-sized (orders of magnitude below the edge list) ->
    broadcast it while it fits, so the cached edges never re-shuffle;
    only the dst-keyed aggregation exchanges data. Past
    _BROADCAST_NODE_CAP nodes, shuffle-join against the
    src-pre-partitioned edges instead (see cap comment above)."""
    rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
    return (
        edges_w.join(rank_side, "src")
        .groupBy("dst")
        .agg(F.sum(F.col("rank") * F.col("w")).alias("mass"))
        .select(
            F.col("dst").alias("src"),
            (restart + F.lit(_DAMPING) * F.col("mass")).alias("rank"),
        )
    )


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes by PageRank after 3 fixed iterations (d=0.85,
    rank0=1.0). Ties broken by node id on the ROUNDED rank so the
    top-k cut is engine-independent."""
    edges_w, broadcast_ranks = _weighted_edges(spark, sf_dir)
    ranks = edges_w.select("src").distinct().withColumn("rank", F.lit(1.0))
    for _ in range(_ITERS):
        ranks = _pagerank_step(
            edges_w, ranks, broadcast_ranks, F.lit(1.0 - _DAMPING)
        )
    out = ranks.select(
        _node_label("src").alias("node"), F.round("rank", 6).alias("rank")
    )
    return out.orderBy(F.col("rank").desc(), F.col("node").asc()).limit(_TOPK)


_CONV_EPS = 1e-6  # RELATIVE: max|Δrank| / max(rank) — scale-free
# The SQL oracle unrolls exactly this many rounds, so the Spark loop's
# hard cap IS the unroll depth (mirroring kmeans): a fixture needing
# more rounds makes the Spark side RAISE instead of emitting output the
# oracle cannot replay (it would return 0 rows — a confusing mismatch).
# 140 bounds the fixpoint at ANY scale: the power iteration contracts
# at d=0.85/round, so rounds ≈ log(eps)/log(0.85) ≈ 85 independent of
# graph size (measured: 88 at sf0.01).
_CONV_SQL_UNROLL = 140
_CONV_MAX_ROUNDS = _CONV_SQL_UNROLL  # raises rather than return unconverged
# Stop-rule expression pinning: for non-negative x, floor(x*1e9) < 1000
# is mathematically identical to x < 1e-6, so the floor adds NO
# robustness band (round-11 ADVICE corrected the earlier claim that it
# quantizes the boundary — only the eps grid line itself matters). The
# engines agree in practice because both evaluate the SAME expression
# shape (MAX-aggregated delta and m, one divide, one compare); the only
# cross-engine difference is ~1e-15 relative summation drift inside the
# ranks feeding those MAXes, so a stop-round flip requires a round's
# true ratio to land within that drift of eps itself — an accepted
# knife-edge, empirically pinned by tests/test_graph_converged.py. The
# floor form is kept only so the Spark loop and the SQL unroll read as
# the same literal rule.
_CONV_QUANT = 1_000_000_000  # 1e9 as an exact int
_CONV_EPS_Q = 1000  # _CONV_EPS * _CONV_QUANT, exact


def _conv_stopped(delta: float, m: float) -> bool:
    """Quantized relative-eps stop rule (see _CONV_QUANT comment)."""
    import math

    return math.floor(delta / m * _CONV_QUANT) < _CONV_EPS_Q


def graph_pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production face of :func:`graph_pagerank`: loop to CONVERGENCE
    (max |rank_t − rank_{t−1}| / max(rank_t) < ``_CONV_EPS`` — the
    RELATIVE max-norm, because hub ranks grow with the graph, so an
    absolute threshold would demand ever more rounds at larger scale
    while the contraction rate stays d=0.85) instead of a fixed
    3-step unroll, on :func:`~hive_2_spark.core.fixpoint.fixpoint`
    (checkpoint per round, raise at the cap). Per-round cost is
    identical to the fixed key — the same :func:`_pagerank_step`: one
    broadcast (size-gated) join against the cached weighted edges plus
    one dst-keyed aggregation; the convergence probe is a node-sized
    join + max — nothing proportional to the edge list.

    Full oracle since round 9: the DuckDB side unrolls
    ``_CONV_SQL_UNROLL`` rounds, replays the SAME relative-eps stop
    rule per round, and selects the first crossing round in SQL (see
    :func:`_pagerank_converged_sql`) — so the data-dependent round
    count is itself hash-checked via the ``rounds`` output column.
    The fixpoint property, agreement with the fixed-unroll oracle key,
    and the lineage-truncation plan shape are additionally gated in
    tests/test_graph_converged.py.

    Output: top-20 (node, rank, rounds) — ``rounds`` is the number of
    iterations the fixpoint took.
    """
    edges_w, broadcast_ranks = _weighted_edges(spark, sf_dir)
    ranks = (
        edges_w.select("src")
        .distinct()
        .withColumn("rank", F.lit(1.0))
        .localCheckpoint()
    )
    if ranks.isEmpty():  # empty graph: empty result, right schema
        return spark.createDataFrame(
            [], "node string, rank double, rounds long"
        )

    def stopped(prev: DataFrame, new: DataFrame) -> bool:
        # node-sized probe over two already-materialized frames; one
        # pass yields both the max delta and the normalizing max rank.
        # Same broadcast gate as the main join: above the threshold the
        # rank frame must not be collected to the driver every round.
        prev = prev.withColumnRenamed("rank", "prev")
        probe = (
            new.join(F.broadcast(prev) if broadcast_ranks else prev, "src")
            .agg(
                F.max(F.abs(F.col("rank") - F.col("prev"))).alias("d"),
                F.max("rank").alias("m"),
            )
            .first()
        )
        return probe["d"] is not None and _conv_stopped(probe["d"], probe["m"])

    ranks, rounds = fixpoint(
        ranks,
        lambda r: _pagerank_step(
            edges_w, r, broadcast_ranks, F.lit(1.0 - _DAMPING)
        ),
        _CONV_MAX_ROUNDS,
        done=stopped,
        what="PageRank",
    )
    out = ranks.select(
        _node_label("src").alias("node"), F.round("rank", 6).alias("rank")
    )
    return (
        out.orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(_TOPK)
        .withColumn("rounds", F.lit(rounds).cast("long"))
    )


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle census of the near-dup document graph.

    Edges are the word-shingle Jaccard pairs (``llm.dedup.
    dedup_ngram_jaccard``, already a < b): a seed with both an exact
    and a near twin yields a 3-clique, so transitive duplicate groups
    show up as triangle-dense nodes — the clustering-coefficient signal
    that distinguishes a dup CLUSTER from a dup CHAIN before running
    full connected components.

    Classic two-join triangle counting: wedges e1(x,y)+e2(y,z) close
    against e3(x,z); because every stored edge has u < v, each triangle
    is produced exactly once as x < y < z (no /6 correction, no
    orientation step). Scale: the edge list is the (blocked, capped)
    near-dup pair set — orders of magnitude smaller than the corpus —
    and the joins shuffle only 8-byte ids. The edge list is the SHARED
    near-dup pair index (``llm.dedup.neardup_pair_index``, persisted
    once per (application, sf_dir)) so the pair build never reruns per
    consumer. For general graphs with hubs, orient wedges from the
    lower-degree endpoint first; the dup graph's block cap already
    bounds degree.
    """
    from hive_2_spark.llm.dedup import neardup_pair_index

    edges = neardup_pair_index(spark, sf_dir)
    e1 = edges.select(F.col("a_id").alias("x"), F.col("b_id").alias("y"))
    e2 = edges.select(F.col("a_id").alias("y"), F.col("b_id").alias("z"))
    e3 = edges.select(F.col("a_id").alias("x"), F.col("b_id").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


_BFS_SOURCE = -1  # supplier 1 (sign-encoded)
_BFS_ROUNDS = 3


def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-hop distance from supplier 1 to every node within 3
    hops — iterative frontier expansion (BFS), the third iterative-
    graph shape next to PageRank and label propagation.

    Each round: expand every known node one hop (join the node-sized
    distance table against the cached edges — distance side broadcast,
    same size-gate rationale as PageRank's rank vector), then
    min-merge, checkpointed per round by ``fixpoint``. The fixed
    3-round unroll mirrors a depth-capped recursive-CTE oracle
    (DuckDB's UNION-recursive dedups (node, dist) states, so neither
    side enumerates paths — on this dense bipartite graph path counting
    would be combinatorial, state counting is |nodes| x 4).
    """
    edges = _edges(spark, sf_dir).localCheckpoint()
    source = spark.range(1).select(
        F.lit(_BFS_SOURCE).cast("bigint").alias("node"),
        F.lit(0).cast("bigint").alias("dist"),
    )

    def expand(dist: DataFrame) -> DataFrame:
        hop = (
            edges.join(
                F.broadcast(dist), edges.src == dist.node, "inner"
            )
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        return dist.unionAll(hop).groupBy("node").agg(
            F.min("dist").alias("dist")
        )

    dist, _ = fixpoint(source, expand, _BFS_ROUNDS)
    return dist.select(_node_label("node").alias("node"), "dist")


_LPA_ROUNDS = 4


def graph_communities_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection over the near-dup document
    graph — the fourth iterative-graph shape beside PageRank (weighted
    push), BFS (frontier expansion), and triangles (wedge closure):
    template/boilerplate FAMILIES emerge as label communities without
    choosing k up front.

    Deterministic semi-synchronous LPA, fixed ``_LPA_ROUNDS`` unroll:
    label(v) starts as v's own doc_id; each round every node adopts
    the MODE of its neighbors' labels with ties broken by smallest
    label (count desc, label asc — the same argmax discipline as
    `agg_mode`), all nodes updating simultaneously. The fixed unroll
    makes the whole iteration a pure function of the edge set, so the
    DuckDB oracle replays every round and the final community census
    is hash-checked (same contract as the pagerank/kmeans fixed keys).

    Scale: edges are the blocked+capped near-dup PAIR set (orders of
    magnitude below the corpus), localCheckpoint'd once; each round is
    one edge-keyed join + a (node x neighbor-label) count that
    partial-aggregates before its shuffle + a node-partitioned argmax
    window (no global window). State is one label per node — the same
    node-sized footprint as the PageRank rank vector.

    Output: (community, n_docs) — one row per surviving label.
    """
    from hive_2_spark.llm.dedup import neardup_edges_sym

    labels = _lpa(neardup_edges_sym(spark, sf_dir).localCheckpoint())
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def _plurality(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One semi-synchronous vote: every ``src`` adopts the MODE of its
    ``dst`` neighbors' labels (count desc, label asc). (node, lbl) out;
    a src with no labeled neighbor drops out."""
    from pyspark.sql.window import Window

    argmax_w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("lbl").asc()
    )
    votes = (
        edges.join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(F.col("src").alias("node"), "lbl")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        votes.withColumn("rn", F.row_number().over(argmax_w))
        .filter(F.col("rn") == 1)
        .select("node", "lbl")
    )


def _lpa(edges: DataFrame) -> DataFrame:
    """``_LPA_ROUNDS`` of label propagation over checkpointed symmetric
    ``edges``, every node starting as its own label."""
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    return fixpoint(labels, lambda lb: _plurality(edges, lb), _LPA_ROUNDS)[0]


def _dk_plurality(out: str, edges: str, labels: str) -> str:
    """DuckDB twin of ``_plurality``: the CTE ``out`` (node, lbl) after
    one vote of the (src, dst) CTE ``edges`` over the CTE ``labels``.
    ``out`` is MATERIALIZED: the next round's vote reads it."""
    return f"""{out}_v AS (
  SELECT e.src AS node, l.lbl, COUNT(*) AS c
  FROM {edges} e JOIN {labels} l ON e.dst = l.node GROUP BY 1, 2
), {out} AS MATERIALIZED (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, lbl ASC) AS rn
    FROM {out}_v
  ) WHERE rn = 1
)"""


def _dk_lpa(edges: str) -> str:
    """DuckDB twin of ``_lpa``: the CTEs ``l0`` .. ``l<_LPA_ROUNDS>``
    (node, lbl), every round unrolled."""
    rounds = [
        _dk_plurality(f"l{k}", edges, f"l{k - 1}")
        for k in range(1, _LPA_ROUNDS + 1)
    ]
    return (
        f"l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl "
        f"FROM {edges}), " + ", ".join(rounds)
    )


_INC_DELTA_MOD = 7  # doc_id % 7 == 0 -> the "new arrivals" delta slice


def _inc_edges_and_base(spark: SparkSession, sf_dir: str):
    """(edges, base_labels) for the incremental-communities family —
    shared by the batch key below and the streaming attach face
    (streaming/communities.py), so the two can't drift. ``edges`` is
    the symmetrized near-dup pair set (checkpointed); ``base_labels``
    is the ``_LPA_ROUNDS`` LPA fixpoint over base-base edges."""
    from hive_2_spark.llm.dedup import neardup_edges_sym

    edges = neardup_edges_sym(spark, sf_dir).localCheckpoint()
    is_delta = lambda c: c % _INC_DELTA_MOD == 0  # noqa: E731
    base_edges = edges.filter(
        ~is_delta(F.col("src")) & ~is_delta(F.col("dst"))
    ).localCheckpoint()
    return edges, _lpa(base_edges)


def graph_communities_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental label maintenance for :func:`graph_communities_lpa`
    — the streaming-shaped face of community detection (round-10
    verdict item 7): when a DELTA of new documents arrives, do NOT
    re-run LPA over the full graph; attach each delta node to an
    existing community by one plurality vote over its already-labeled
    neighbors. Work is proportional to the DELTA's incident edges —
    the same cost discipline as `dedup_incremental` — while the base
    labeling is the amortized corpus state (recomputed here only so
    the oracle can replay it; production stores it).

    Semantics (deterministic, fully SQL-replayable):
    - delta = nodes with doc_id % ``_INC_DELTA_MOD`` == 0; base = rest;
    - base labels = ``_LPA_ROUNDS`` of the SAME semi-synchronous LPA,
      restricted to base-base edges;
    - each delta node adopts the mode of its BASE neighbors' labels
      (count desc, label asc — one vote round over delta-base edges
      only; delta-delta edges are deliberately ignored, the standard
      one-shot approximation: arrivals attach independently);
    - a delta node with no labeled neighbor founds a singleton
      community labeled with its own doc_id.

    Output: (community, n_docs, n_delta) — community census with how
    many members arrived in the delta.
    """
    edges, labels = _inc_edges_and_base(spark, sf_dir)
    is_delta = lambda c: c % _INC_DELTA_MOD == 0  # noqa: E731
    # --- the incremental step: delta-sized, one vote round ---
    delta_nodes = (
        edges.filter(is_delta(F.col("src")))
        .select(F.col("src").alias("node"))
        .distinct()
    )
    delta_assigned = _plurality(
        edges.filter(is_delta(F.col("src")) & ~is_delta(F.col("dst"))),
        labels,
    )
    delta_labels = (
        delta_nodes.join(delta_assigned, "node", "left")
        .select(
            "node", F.coalesce("lbl", F.col("node")).alias("lbl"),
            F.lit(1).alias("is_delta"),
        )
    )
    # base nodes whose ONLY neighbors are delta nodes have no base-base
    # edge, so the base LPA never labeled them: they are isolated in the
    # base graph and found singleton communities (own doc_id)
    base_isolated = (
        edges.filter(~is_delta(F.col("src")))
        .select(F.col("src").alias("node"))
        .distinct()
        .join(labels.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("lbl"))
    )
    all_labels = (
        labels.unionByName(base_isolated)
        .withColumn("is_delta", F.lit(0))
        .unionByName(delta_labels)
    )
    return all_labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_delta").cast("bigint").alias("n_delta"),
    )


_CC_STAR_ROUNDS = 3  # large-star/small-star pairs; fixture converges in 1
# (measured: the sf0.01 near-dup graph's 55 components, max size 4, reach
# the star-forest fixed point after ONE pair), and converged star forests
# are FIXED POINTS of both operations, so any unroll >= convergence depth
# returns the identical edge set — the oracle can replay a fixed 3 safely.


def _cc_large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., 'Connected Components in
    MapReduce and Beyond', SoCC'14): every node connects its STRICTLY
    LARGER neighbors to the minimum of its closed neighborhood.

    Precondition (maintained by the caller and by both round outputs):
    ``e`` is a DISTINCT one-row-per-unordered-pair edge set, so the
    symmetrization below cannot create duplicates and needs no shuffle
    — and duplicate edges wouldn't change the min/argmax semantics
    anyway, only inflate the intermediate (the output distinct is the
    one that carries the set contract)."""
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mn = sym.groupBy("u").agg(
        F.least(F.col("u"), F.min("v")).alias("m")
    )
    return (
        sym.join(mn, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _cc_small_star(e: DataFrame) -> DataFrame:
    """One small-star round: edges canonicalized (larger, smaller); each
    node connects its smaller-or-equal neighbors AND itself to the
    minimum of that neighborhood. Same distinct-input precondition as
    :func:`_cc_large_star`; the greatest/least canonicalization is a
    per-row projection, not a dedup pass."""
    canon = (
        e.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
    )
    mn = canon.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        canon.join(mn, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionAll(mn.select("u", F.col("m").alias("v")))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def _cc_star_pair(e: DataFrame) -> DataFrame:
    """One large-star + small-star round pair."""
    return _cc_small_star(_cc_large_star(e))


def graph_cc_largestar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    rounds — the O(log n)-round CC algorithm massive graphs need,
    beside the existing fixpoint min-propagation
    (``llm/advanced.py::dedup_clusters``), which takes
    O(component diameter) rounds. On a web-scale near-dup graph a
    boilerplate chain can have diameter in the thousands; star rounds
    collapse it in a logarithmic number of passes (Kiveris et al.,
    SoCC'14), each pass a groupBy + self-join + distinct over an edge
    set that only shrinks.

    Determinism/oracle: every round is a pure function of the edge set
    (min over neighborhoods, exact integer ids), and a converged star
    forest is a FIXED POINT of both operations, so the fixed
    ``_CC_STAR_ROUNDS`` unroll replays hash-exactly in DuckDB. A
    production run loops until the edge set is unchanged;
    tests/test_round11_ops.py drives the same round functions on a
    48-node path graph (diameter 47 — far beyond the unroll) to the
    fixed point and checks against union-find ground truth.

    Scale: state is edge-sized and monotonically shrinking toward one
    edge per non-root node; each round's join keys on the same column
    its groupBy just hash-partitioned (the exchange is reused, not
    repeated); the unroll runs on
    :func:`~hive_2_spark.core.fixpoint.fixpoint`, whose per-round
    checkpoint truncates the lineage.

    Output: (component, n_docs) — component = min doc_id, census row
    per component (singletons excluded: isolated docs never enter the
    pair graph).
    """
    e, forest = _cc_star_forest(spark, sf_dir)
    nodes = (
        e.select("u")
        .unionAll(e.select(F.col("v").alias("u")))
        .distinct()
        .localCheckpoint()
    )
    parents = forest.groupBy("u").agg(F.min("v").alias("p"))
    comp = nodes.join(parents, "u", "left").select(
        F.coalesce("p", F.col("u")).alias("component")
    )
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def _cc_star_forest(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(input edges, star forest after the ``_CC_STAR_ROUNDS`` unroll)
    over the near-dup pair index, both checkpointed."""
    from hive_2_spark.llm.dedup import neardup_pair_index

    pairs = neardup_pair_index(spark, sf_dir)
    e = (
        pairs.filter(F.col("a_id") != F.col("b_id"))
        .select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .localCheckpoint()
    )
    return e, fixpoint(e, _cc_star_pair, _CC_STAR_ROUNDS)[0]


def cc_star_converged(spark: SparkSession, sf_dir: str) -> bool:
    """Round-11 ADVICE guard: the fixed ``_CC_STAR_ROUNDS`` unroll is
    only CORRECT if the star forest it reaches is a fixed point of the
    large-star/small-star pair — otherwise the census (and its oracle,
    which replays the identical unroll) would hash-match while both
    are wrong. Builds the key's forest (:func:`_cc_star_forest`), runs
    ONE extra round pair, and reports whether the edge set is
    unchanged. Run on every non-oracle fixture (tools/scale10.py
    10x/100x legs call this after timing the key; tests pin the oracle
    fixtures), so a corpus whose near-dup components outgrow the
    unroll fails loudly instead of silently censusing unconverged
    stars."""
    _, cur = _cc_star_forest(spark, sf_dir)
    nxt = _cc_star_pair(cur).localCheckpoint()
    return (
        nxt.exceptAll(cur).isEmpty() and cur.exceptAll(nxt).isEmpty()
    )


def graph_pagerank_personalized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PERSONALIZED PageRank — the topic-sensitive variant
    (Haveliwala, WWW'02) with a single-node restart set: the random
    surfer teleports back to the SEED (the minimum customer node,
    deterministic on any engine) instead of the uniform vector, so
    mass concentrates in the seed's trading neighborhood — the
    recommendation/similar-entities face of the propagation family
    (`graph_pagerank` ranks globally; this ranks RELATIVE TO one
    node).

    Same fixed 3-round unroll, weights, and ROUND(6) absorption as
    `graph_pagerank` — rank0 = 1 at the seed and 0 elsewhere;
    rank_{k+1}(v) = (1-d)*[v = seed] + d * sum_in(rank_k(u) * w_u).
    The seed is read with one bounded 1-row collect (global MIN); the
    oracle recomputes it as a scalar subquery.

    Scale: identical plan shape to `graph_pagerank` (node-sized rank
    vector broadcast under the gate, src-pre-partitioned edges past
    it); personalization changes only the restart expression.

    Output: top-20 (node, rank), ties on the rounded rank broken by
    node label.
    """
    edges_w, broadcast_ranks = _weighted_edges(spark, sf_dir)
    # bounded collect: one scalar, the minimum customer node id
    row = edges_w.filter(F.col("src") >= 0).agg(
        F.min("src").alias("s")
    ).collect()[0]
    if row["s"] is None:  # empty corpus
        return spark.createDataFrame([], "node string, rank double")
    seed = int(row["s"])
    restart = F.when(
        F.col("dst") == F.lit(seed), F.lit(1.0 - _DAMPING)
    ).otherwise(F.lit(0.0))
    ranks = edges_w.select("src").distinct().select(
        "src",
        F.when(F.col("src") == F.lit(seed), F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("rank"),
    )
    for _ in range(_ITERS):
        ranks = _pagerank_step(edges_w, ranks, broadcast_ranks, restart)
    out = ranks.select(
        _node_label("src").alias("node"), F.round("rank", 6).alias("rank")
    )
    return out.orderBy(F.col("rank").desc(), F.col("node").asc()).limit(
        _TOPK
    )


_HITS_ROUNDS = 3  # mutual-reinforcement rounds; magnitudes grow ~
# degree^(2*rounds), so 3 rounds keep the EXACT integer masses inside
# decimal(38,0)/HUGEINT up to ~2e6 max degree — the headroom
# discipline of ts_acf/agg_gini (divide once, at the very end)


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM'99) over the directed
    customer->supplier trading graph — the mutual-reinforcement member
    completing the propagation family (PageRank = global random-surfer
    mass, LPA = plurality labels, this = bipartite endorsement): a
    customer is a good HUB if it buys from good authorities, a
    supplier a good AUTHORITY if good hubs buy from it.

    Exactness: hub_0 = 1, so every subsequent mass is an EXACT
    INTEGER (auth_1 = in-degree, then alternating integer-weighted
    degree sums) carried in decimal(38,0) (HUGEINT in the oracle) —
    no per-round float normalization to drift; ONE division by the
    total at the very end, CAST DOUBLE / CAST DOUBLE then ROUND(6),
    bit-identical across engines. The classic L2-normalized iterate
    is this integer sequence rescaled, so the top-k ranking and
    relative scores are the textbook ones.

    Scale: the edge list is the distinct trading-pair set (orders of
    magnitude below lineitem), materialized ONCE in each join
    orientation (hash-partitioned by s and by c via localCheckpoint)
    so the alternating rounds never re-exchange the pairs — each
    round's only shuffle is the node-sized mass aggregation, itself
    keyed on the column the next join needs. The final total is a
    1-row broadcast (scalar-subquery shape).

    Output: (role, node, score) — top-20 hubs and top-20 authorities,
    ties on the rounded score broken by node label.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    # Two materializations, not three: the join+distinct pipelines
    # straight into the s-orientation checkpoint (the old intermediate
    # checkpoint of the raw pair set was a third full pass for rows
    # both orientations re-shuffle anyway), and the c-orientation
    # re-reads the already-materialized s-side blocks.
    e_by_s = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").cast("bigint").alias("c"),
            (-F.col("l_suppkey")).cast("bigint").alias("s"),
        )
        .distinct()
        .repartition("s")
        .localCheckpoint()
    )
    e_by_c = e_by_s.repartition("c").localCheckpoint()
    auth = e_by_s.groupBy("s").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("av")
    )
    hub = e_by_s.join(auth, "s").groupBy("c").agg(
        F.sum("av").cast("decimal(38,0)").alias("hv")
    )
    for _ in range(_HITS_ROUNDS - 1):
        auth = e_by_c.join(hub, "c").groupBy("s").agg(
            F.sum("hv").cast("decimal(38,0)").alias("av")
        )
        hub = e_by_s.join(auth, "s").groupBy("c").agg(
            F.sum("av").cast("decimal(38,0)").alias("hv")
        )
    ht = hub.agg(F.sum("hv").cast("decimal(38,0)").alias("t"))
    at = auth.agg(F.sum("av").cast("decimal(38,0)").alias("t"))
    hubs = (
        hub.crossJoin(F.broadcast(ht))
        .select(
            F.lit("hub").alias("role"),
            # role is known per frame — label directly (supplier key 0
            # would defeat the sign encoding: -0 = 0)
            F.concat(F.lit("c"), F.col("c").cast("string")).alias("node"),
            F.round(
                F.col("hv").cast("double") / F.col("t").cast("double"), 6
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("node").asc())
        .limit(20)
    )
    auths = (
        auth.crossJoin(F.broadcast(at))
        .select(
            F.lit("authority").alias("role"),
            F.concat(F.lit("s"), (-F.col("s")).cast("string"))
            .alias("node"),
            F.round(
                F.col("av").cast("double") / F.col("t").cast("double"), 6
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("node").asc())
        .limit(20)
    )
    return hubs.unionByName(auths)


_KCORE_KMAX = 5    # decomposition depth — fixture max core is 5; at
# 100 TB pick the k the downstream density filter actually consumes
_KCORE_BATCH = 2   # peel rounds per convergence probe (the measured
# fixture mixing rate) — identity rounds past the fixpoint are free
_KCORE_ROUNDS = 4  # peel-round CAP per k — also the DuckDB oracle's
# SQL unroll depth, so the loop below RAISES (never exceeds it) when a
# graph needs more: Spark converging past the oracle's unroll would
# hash-mismatch silently. Measured convergence <= 2 on every fixture
# (sf0.001/0.01/0.1) — 2x margin; since round 14 the loop STOPS at the
# measured fixpoint (violation count 0) instead of always burning the
# full cap (the graph_pagerank_converged discipline, verdict-r13 #5).


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE DECOMPOSITION of the near-dup graph — per-document core
    number (the largest k such that the doc survives iterated
    degree-<k peeling), the standard graph shape for boilerplate-
    density screening: high-core documents sit in densely
    inter-duplicated families (template farms), low-core ones only
    touch the graph peripherally. Complements the family's census
    faces (CC/LPA count members; core numbers grade EMBEDDEDNESS).

    Batagelj-Zaversnik peeling expressed as dataframe algebra: for
    k = 2..`_KCORE_KMAX`, peel {keep = nodes with degree >= k; edges =
    edges with BOTH endpoints kept} until a round leaves no node below
    degree k (the fixpoint), capped at `_KCORE_ROUNDS` rounds; the
    k-core's nodes are the survivors, and core(v) = max k over the
    cores containing v (every pair-graph node is in the 1-core). Each
    k's peel starts from the (k-1)-core's edges — the sequential
    contraction the serial algorithm does with a bucket queue.

    Determinism/oracle: every peel round is a pure function of the
    edge set, and a converged core is a FIXED POINT of the peel, so
    the DuckDB oracle's fixed `_KCORE_ROUNDS`-deep SQL unroll replays
    the stopped loop hash-exactly — extra oracle rounds past the
    fixpoint are identity. That contract is why the cap RAISES instead
    of looping further: a graph converging past the oracle's unroll
    (a long path needs ~diameter/2 rounds) would hash-mismatch
    silently, so it must fail loudly (the CC convergence discipline).
    The convergence probe is a degree re-count over the just-
    checkpointed (tiny, monotonically shrinking) edge frame, taken
    every `_KCORE_BATCH` rounds — measured convergence is <= 2 rounds
    per k on every fixture, so the typical k stops after one probe,
    halving the peel-round count vs the round-13 fixed 4-round unroll
    (verdict-r13 item 5) with the census hash unchanged.

    Scale: edges are the blocked+capped near-dup PAIR set (orders of
    magnitude below the corpus), read from the shared persisted index;
    each round is one partial-agg degree count + two semi-shaped joins
    keyed on the column the groupBy just partitioned. Per-probe
    localCheckpoint truncates lineage and makes the convergence probe a
    scan of materialized rows; the careful path runs on
    :func:`~hive_2_spark.core.fixpoint.fixpoint`.

    Output: (doc_id, core), one row per pair-graph node.
    """
    from hive_2_spark.llm.dedup import neardup_edges_sym

    edges = neardup_edges_sym(spark, sf_dir).localCheckpoint()

    def _peel(cur: DataFrame, k: int, rounds: int) -> DataFrame:
        for _ in range(rounds):
            keep = (
                cur.groupBy("src")
                .agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= k)
                .select("src")
            )
            cur = (
                cur.join(keep, "src")
                .join(keep.select(F.col("src").alias("dst")), "dst")
                .select("src", "dst")
            )
        return cur

    def _viol(cur: DataFrame, k: int) -> DataFrame:
        return (
            cur.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") < k)
            .select(F.lit(k).alias("k"))
        )

    def _census(frames: dict[int, DataFrame]) -> DataFrame:
        cores = (
            edges.select(F.col("src").alias("doc_id"))
            .distinct()
            .select("doc_id", F.lit(1).alias("core"))
        )
        for k, fr in frames.items():
            cores = cores.unionByName(
                fr.select(F.col("src").alias("doc_id"))
                .distinct()
                .select("doc_id", F.lit(k).alias("core"))
            )
        return cores.groupBy("doc_id").agg(
            F.max("core").cast("bigint").alias("core")
        )

    # OPTIMISTIC fast path: measured convergence is <= _KCORE_BATCH
    # rounds per k on every fixture, so peel every k _KCORE_BATCH
    # rounds and verify ALL four fixpoints with ONE batched probe job
    # (union of per-k violation frames over the checkpointed states)
    # instead of a count job per k. k+1 legitimately starts from k's
    # batch state only if k converged — the probe confirms exactly
    # that before any result is returned, and the rare miss falls back
    # to the careful per-k probe loop below, which preserves the
    # raise-at-cap contract bit-for-bit.
    cur = edges
    frames: dict[int, DataFrame] = {}
    for k in range(2, _KCORE_KMAX + 1):
        cur = _peel(cur, k, _KCORE_BATCH).localCheckpoint()
        frames[k] = cur
    probe = None
    for k in frames:
        probe = (
            _viol(frames[k], k)
            if probe is None
            else probe.unionByName(_viol(frames[k], k))
        )
    if probe.limit(1).count() == 0:
        return _census(frames)

    # Careful path (some k needs > _KCORE_BATCH rounds): per-k probe
    # every _KCORE_BATCH peel rounds, raising at the _KCORE_ROUNDS cap.
    cur = edges
    frames = {}
    for k in range(2, _KCORE_KMAX + 1):
        cur, _ = fixpoint(
            cur,
            lambda c: _peel(c, k, _KCORE_BATCH),
            _KCORE_ROUNDS // _KCORE_BATCH,
            done=lambda _, nxt: _viol(nxt, k).count() == 0,
            what=f"k-core peel at k={k} ({_KCORE_BATCH}-round steps)",
        )
        frames[k] = cur
    return _census(frames)


_WALK_STEPS = 4


def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC random-walk corpus generation over the near-dup
    document graph — the DeepWalk/node2vec primitive (one fixed-length
    walk per start node; the walk sequences are what a skip-gram
    embedding trainer consumes), and the seventh graph face beside
    propagation (PageRank/LPA), traversal (BFS), closure (triangles),
    and contraction (CC): SAMPLING.

    Walk rule, exact and engine-portable: at step k a walk started at
    ``start`` sitting on ``cur`` moves to neighbor number
    ``md5(start:k:cur) % deg(cur) + 1`` in the (src, dst-ascending)
    adjacency numbering — md5 in place of the RNG (the
    sample_reservoir discipline), keyed on (start, k, cur) so
    different walks at the same node diverge while reruns, shards, and
    engines agree bit-for-bit. The DuckDB oracle replays every hop.

    Scale: the adjacency numbering is one src-partitioned rank window
    over the edge list, built once and checkpointed; each step is one
    node-sized walk frame joined against it (join key = the same src
    the window partitioned by). Walk state never exceeds
    (#starts x 8 bytes); at 100 TB the walk corpus is written out
    step-by-step instead of unioned, and the per-(start, k, cur) hash
    keeps restarts idempotent.

    Output: (node, n_visits) — how often each node is visited across
    all walks and steps (0..``_WALK_STEPS``), the walk-frequency
    census an embedding pipeline uses to check coverage before
    training.
    """
    from pyspark.sql.window import Window

    from hive_2_spark.llm.dedup import neardup_edges_sym

    e = neardup_edges_sym(spark, sf_dir)
    nb = e.withColumn(
        "idx",
        F.row_number().over(
            Window.partitionBy("src").orderBy(F.col("dst").asc())
        ),
    ).localCheckpoint()
    deg = nb.groupBy("src").agg(F.count(F.lit(1)).alias("d")).localCheckpoint()
    walks = deg.select(F.col("src").alias("start"), F.col("src").alias("cur"))
    visited = [walks.select(F.col("cur"))]
    for k in range(1, _WALK_STEPS + 1):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("start").cast("string"),
                        F.lit(f":{k}:"),
                        F.col("cur").cast("string"),
                    )
                ),
                1, 12,
            ),
            16, 10,
        ).cast("bigint")
        walks = (
            walks.join(deg, walks.cur == deg.src)
            .withColumn("nxt_idx", h % F.col("d") + 1)
            .join(
                nb,
                (nb.src == F.col("cur")) & (nb.idx == F.col("nxt_idx")),
            )
            .select("start", F.col("dst").alias("cur"))
        )
        visited.append(walks.select(F.col("cur")))
    allv = visited[0]
    for v in visited[1:]:
        allv = allv.unionAll(v)
    return allv.groupBy(F.col("cur").alias("node")).agg(
        F.count(F.lit(1)).alias("n_visits")
    )


# node2vec bias weights, integer-scaled (x4) so the cumulative-weight
# pick is exact in both engines: return (back to the previous node)
# alpha = 1/p with p = 2 -> 2; common neighbor of prev (distance 1)
# alpha = 1 -> 4; farther (distance 2 from prev) alpha = 1/q with
# q = 4 -> 1. p > 1 discourages immediate backtracking, q > 1 keeps
# the walk local (the BFS-ish regime that embeds structural roles).
_N2V_RET_W = 2
_N2V_COMMON_W = 4
_N2V_FAR_W = 1
_N2V_STEPS = 3


def graph_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIASED second-order random walks (node2vec, Grover & Leskovec
    KDD'16) over the near-dup document graph — row 114's deterministic
    walk upgraded from first-order (next hop depends on cur alone) to
    second-order: the transition out of ``cur`` is weighted by where
    the walk CAME FROM (``prev``): weight 1/p to return to prev, 1 to
    a common neighbor of prev, 1/q to a node farther from prev — the
    p/q dials between structural-role and community embeddings, and
    the walk corpus is what a skip-gram trainer consumes.

    Deterministic in the row-114 discipline: the RNG is
    md5(start:k:prev:cur) reduced mod the TOTAL transition weight, and
    the chosen neighbor is the first whose running weight (cumsum in
    the (src, dst-asc) adjacency numbering) exceeds the draw — exact
    integer weighted sampling, bit-identical across engines/shards/
    reruns. Step 1 has no prev and stays uniform (the row-114 rule).

    Scale: each step fans the #walks-sized frame out to candidate
    edges (sum of deg(cur) rows), marks distance-1 candidates with ONE
    equi-join against the shared persisted pair index (never a
    neighborhood collect), and collapses back to #walks rows with two
    start-partitioned windows. This is the tradeoff node2vec is KNOWN
    for (second-order state = the alias-table blowup in the paper);
    production precomputes per-(prev, cur) alias tables once per epoch
    — here the fan-out IS that table, rebuilt per step and never
    wider than the edge list.

    Output: (node, n_visits) across steps 0..3 — the coverage census
    (biased counts differ from row 114's uniform ones on any node
    whose neighbors share edges).
    """
    from pyspark.sql.window import Window

    from hive_2_spark.llm.dedup import neardup_edges_sym

    e = neardup_edges_sym(spark, sf_dir)
    nb = e.withColumn(
        "idx",
        F.row_number().over(
            Window.partitionBy("src").orderBy(F.col("dst").asc())
        ),
    ).localCheckpoint()
    deg = nb.groupBy("src").agg(F.count(F.lit(1)).alias("d")).localCheckpoint()
    mark = nb.select(
        F.col("src").alias("m_src"),
        F.col("dst").alias("m_dst"),
        F.lit(1).alias("is_common"),
    )

    def h12(*cols):
        return F.conv(
            F.substring(F.md5(F.concat(*cols)), 1, 12), 16, 10
        ).cast("bigint")

    # step 1: uniform (no prev yet) — md5(start:1:cur) % deg + 1
    w0 = deg.select(F.col("src").alias("start"), F.col("src").alias("cur"))
    h1 = h12(
        F.col("start").cast("string"), F.lit(":1:"),
        F.col("cur").cast("string"),
    )
    walks = (
        w0.join(deg, w0.cur == deg.src)
        .withColumn("nxt_idx", h1 % F.col("d") + 1)
        .join(nb, (nb.src == F.col("cur")) & (nb.idx == F.col("nxt_idx")))
        .select(
            "start", F.col("cur").alias("prev"), F.col("dst").alias("cur")
        )
    )
    visited = [w0.select("cur"), walks.select("cur")]
    cum_w = Window.partitionBy("start").orderBy("idx")
    tot_w = Window.partitionBy("start")
    for k in range(2, _N2V_STEPS + 1):
        cand = (
            walks.join(nb, nb.src == walks.cur)
            .join(
                mark,
                (F.col("m_src") == F.col("prev"))
                & (F.col("m_dst") == F.col("dst")),
                "left",
            )
            .withColumn(
                "wt",
                F.when(F.col("dst") == F.col("prev"), _N2V_RET_W)
                .when(F.col("is_common").isNotNull(), _N2V_COMMON_W)
                .otherwise(_N2V_FAR_W),
            )
        )
        r = h12(
            F.col("start").cast("string"), F.lit(f":{k}:"),
            F.col("prev").cast("string"), F.lit(":"),
            F.col("cur").cast("string"),
        )
        walks = (
            cand.withColumn("cum", F.sum("wt").over(cum_w))
            .withColumn("tot", F.sum("wt").over(tot_w))
            .withColumn("draw", r % F.col("tot"))
            .filter(
                (F.col("draw") >= F.col("cum") - F.col("wt"))
                & (F.col("draw") < F.col("cum"))
            )
            .select(
                "start", F.col("cur").alias("prev"),
                F.col("dst").alias("cur"),
            )
        )
        visited.append(walks.select("cur"))
    allv = visited[0]
    for v in visited[1:]:
        allv = allv.unionAll(v)
    return allv.groupBy(F.col("cur").alias("node")).agg(
        F.count(F.lit(1)).alias("n_visits")
    )


_SCC_STRIDE = 16  # node id = user_id * stride + type index; raises if
# the type dimension ever outgrows it (fixture has 5 event types)
_SCC_DOUBLING = 2  # path-doubling rounds: closure over paths up to
# 2^2 = 4 edges = the max shortest path in a <=|types|-node graph, so
# the closure is exact BY STRUCTURE (any reach pair has a simple path
# <= 4 edges); a fixpoint guard still RAISES if one more doubling adds
# pairs — e.g. if the type dimension ever grows past the stride check


def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the DIRECTED per-user
    event-type transition graph — the directed-graph member the family
    was missing (CC/star-CC handle the undirected near-dup graph;
    verdict-r13 frontier #4): nodes are (user, event_type) pairs,
    edges follow consecutive events in each user's stream, and an SCC
    is a set of types the user cycles among — the recurrent-behavior
    loop (view<->click<->view) as opposed to one-way funnel progress.

    Algorithm — forward-backward reachability as dataframe algebra:
    FORWARD reach = ``_SCC_DOUBLING`` path-DOUBLING rounds (reach ∪
    reach∘reach — log-round closure, not linear propagation), then the
    BACKWARD half is the transpose intersect: u, v mutually reachable
    iff (u, v) and (v, u) both in reach; component = min mutual
    partner (self included). The doubling cap carries a fixpoint
    guard: one more round must add NO pair, else RAISE — a truncated
    closure is silently wrong, not approximate (the CC discipline).

    Determinism/oracle: the census is a pure function of the edge set,
    so the DuckDB oracle ignores the algorithm and replays the SPEC —
    mutual reachability via one recursive-CTE transitive closure.
    Hash equality proves the doubling against the definition. A
    union-find-free pure-Python Tarjan is the third engine
    (tests/test_round14_newops.py).

    Scale: the corpus is touched once (the same user-keyed lag
    exchange sessionization pays); edges never cross users, so the
    reach frame is bounded by users x |types|^2 — closure stays
    LINEAR in users precisely because the type dimension is bounded
    (the same bounded-domain argument as the cent-histogram
    aggregates). Every doubling round keys its self-join on the
    column the previous round just hashed; ``fixpoint``'s per-round
    checkpoint truncates lineage (a lazy self-join chain doubles the
    plan tree per round). For an unbounded-component directed graph
    this becomes the FW-BW peel; for this operator the bound is
    structural.

    Output: (component, n_nodes), component = min member node id.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    types = [
        r["event_type"]
        for r in e.select("event_type")
        .distinct()
        .orderBy("event_type")
        .collect()
    ]  # bounded dim collect: the type dimension
    if len(types) > _SCC_STRIDE:
        raise RuntimeError(
            f"{len(types)} event types exceed _SCC_STRIDE={_SCC_STRIDE} "
            "— raise the stride (both engines) for this corpus"
        )
    if not types:  # empty corpus: no nodes, no components
        return spark.createDataFrame(
            [], "component bigint, n_nodes bigint"
        )
    tmap = F.create_map(
        *[
            lit
            for i, t in enumerate(types)
            for lit in (F.lit(t), F.lit(i))
        ]
    )
    ev = e.select(
        (F.col("user_id") * _SCC_STRIDE + tmap[F.col("event_type")])
        .cast("bigint")
        .alias("node"),
        "ts",
        "event_id",
        "user_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("nxt", F.lead("node").over(w))
    edges = (
        seq.filter(F.col("nxt").isNotNull() & (F.col("nxt") != F.col("node")))
        .select(F.col("node").alias("src"), F.col("nxt").alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = ev.select("node").distinct()

    def _double(r: DataFrame) -> DataFrame:
        two_hop = (
            r.alias("a")
            .join(r.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        return r.unionByName(two_hop).distinct()

    reach, _ = fixpoint(edges, _double, _SCC_DOUBLING)
    # Fixpoint guard via COUNT equality: doubling is monotone (the
    # union keeps every existing pair), so |double(reach)| == |reach|
    # iff one more round adds no pair — same guard as the previous
    # left-anti probe without paying its extra join; both counts ride
    # ONE action (a 2-row union aggregate over the checkpointed reach).
    guard = {
        r["side"]: r["n"]
        for r in reach.select(F.lit("cur").alias("side"))
        .unionByName(_double(reach).select(F.lit("nxt").alias("side")))
        .groupBy("side")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if guard.get("nxt") != guard.get("cur"):
        raise RuntimeError(
            f"SCC closure unconverged after {_SCC_DOUBLING} doubling "
            "rounds — raise _SCC_DOUBLING for this graph"
        )
    mutual = (
        reach.alias("a")
        .join(
            reach.alias("b"),
            (F.col("a.src") == F.col("b.dst"))
            & (F.col("a.dst") == F.col("b.src")),
        )
        .select(F.col("a.src").alias("node"), F.col("a.dst").alias("partner"))
    )
    comp = (
        nodes.join(mutual, "node", "left")
        .groupBy("node")
        .agg(
            F.least(
                F.first("node"), F.coalesce(F.min("partner"), F.first("node"))
            ).alias("component")
        )
    )
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


QUERIES = {
    "graph_scc": graph_scc,
    "graph_pagerank": graph_pagerank,
    "graph_pagerank_personalized": graph_pagerank_personalized,
    "graph_pagerank_converged": graph_pagerank_converged,
    "graph_triangles": graph_triangles,
    "graph_bfs_distance": graph_bfs_distance,
    "graph_communities_lpa": graph_communities_lpa,
    "graph_communities_incremental": graph_communities_incremental,
    "graph_cc_largestar": graph_cc_largestar,
    "graph_kcore": graph_kcore,
    "graph_hits": graph_hits,
    "graph_random_walks": graph_random_walks,
    "graph_node2vec_walks": graph_node2vec_walks,
}

# mirrors the Spark side exactly: precomputed per-edge weight 1.0/deg,
# mass = SUM(rank * w) — same IEEE ops, drift only from summation order
# (absorbed by the final ROUND(...,6))
_ITER_CTE = """
r{k} AS (
  SELECT e.dst AS node,
         {one_minus_d} + {d} * SUM(r{p}.rank * e.w) AS rank
  FROM edges_w e
  JOIN r{p} ON e.src = r{p}.node
  GROUP BY e.dst
)"""


def _pagerank_sql() -> str:
    iters = ",".join(
        _ITER_CTE.format(k=k, p=k - 1, d=_DAMPING, one_minus_d=1.0 - _DAMPING)
        for k in range(1, _ITERS + 1)
    )
    return f"""
WITH {_DK_WEIGHTED_EDGES}, r0 AS (
  SELECT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg
), {iters}
SELECT node, rank FROM (
  SELECT CASE WHEN node >= 0 THEN 'c' || CAST(node AS VARCHAR)
         ELSE 's' || CAST(-node AS VARCHAR) END AS node,
         ROUND(rank, 6) AS rank
  FROM r{_ITERS}
) ORDER BY rank DESC, node ASC LIMIT {_TOPK}
"""


# The converged key's oracle replays the SAME stop rule as the Spark
# loop — iterate, compute max|Δrank|/max(rank) per round, stop at the
# FIRST round strictly below _CONV_EPS — as a fixed unroll of
# _CONV_SQL_UNROLL rounds with the stop round selected by SQL, so the
# data-dependent round count is checked too (it is an output column).
# The unroll depth (_CONV_SQL_UNROLL, defined with the Spark cap above)
# equals the Spark loop's hard cap, so a fixture needing more rounds
# makes the SPARK side raise — the oracle can never be asked to replay
# a round count it did not unroll. Each round CTE is MATERIALIZED:
# r{k} is read by r{k+1}, its delta probe d{k}, d{k+1}, and the final
# union — without it DuckDB may inline the whole 140-deep lineage per
# reference. The stop clause uses the same floor-quantized comparison
# as the Spark loop (_conv_stopped) so double-summation order drift
# cannot make the engines pick different stop rounds.

_CONV_ITER_CTE = """
r{k} AS MATERIALIZED (
  SELECT e.dst AS node,
         {one_minus_d} + {d} * SUM(r{p}.rank * e.w) AS rank
  FROM edges_w e
  JOIN r{p} ON e.src = r{p}.node
  GROUP BY e.dst
), d{k} AS (
  SELECT {k} AS iter,
         MAX(ABS(r{k}.rank - r{p}.rank)) AS delta,
         MAX(r{k}.rank) AS m
  FROM r{k} JOIN r{p} USING (node)
)"""


def _pagerank_converged_sql() -> str:
    ks = range(1, _CONV_SQL_UNROLL + 1)
    iters = ",".join(
        _CONV_ITER_CTE.format(
            k=k, p=k - 1, d=_DAMPING, one_minus_d=1.0 - _DAMPING
        )
        for k in ks
    )
    deltas = " UNION ALL ".join(f"SELECT * FROM d{k}" for k in ks)
    allr = " UNION ALL ".join(
        f"SELECT {k} AS iter, node, rank FROM r{k}" for k in ks
    )
    return f"""
WITH {_DK_WEIGHTED_EDGES}, r0 AS MATERIALIZED (
  SELECT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg
), {iters},
stop AS (
  SELECT MIN(iter) AS rounds FROM ({deltas})
  WHERE FLOOR(delta / m * {_CONV_QUANT}) < {_CONV_EPS_Q}
)
SELECT node, rank, rounds FROM (
  SELECT CASE WHEN allr.node >= 0 THEN 'c' || CAST(allr.node AS VARCHAR)
         ELSE 's' || CAST(-allr.node AS VARCHAR) END AS node,
         ROUND(allr.rank, 6) AS rank,
         CAST(stop.rounds AS BIGINT) AS rounds
  FROM ({allr}) allr JOIN stop ON allr.iter = stop.rounds
) ORDER BY rank DESC, node ASC LIMIT {_TOPK}
"""


def _triangles_sql() -> str:
    from hive_2_spark.llm.dedup import _dk_neardup_pairs

    return (
        f"WITH {_dk_neardup_pairs()}, "
        "t AS (SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z "
        "FROM p e1 JOIN p e2 ON e1.b_id = e2.a_id "
        "JOIN p e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id) "
        "SELECT doc_id, COUNT(*) AS n_triangles FROM "
        "(SELECT unnest([x, y, z]) AS doc_id FROM t) GROUP BY doc_id"
    )


_BFS_SQL = f"""
WITH RECURSIVE {_DK_TRADE_EDGES}, bfs AS (
  SELECT CAST({_BFS_SOURCE} AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
  UNION
  SELECT e.dst, bfs.dist + 1
  FROM bfs JOIN edges e ON e.src = bfs.node
  WHERE bfs.dist < {_BFS_ROUNDS}
)
SELECT CASE WHEN node >= 0 THEN 'c' || CAST(node AS VARCHAR)
       ELSE 's' || CAST(-node AS VARCHAR) END AS node,
       MIN(dist) AS dist
FROM bfs GROUP BY 1
"""

def _communities_lpa_sql() -> str:
    """Unrolls every LPA round over the near-dup edges, then the
    community census."""
    from hive_2_spark.llm.dedup import _dk_neardup_edges_sym

    return f"""
WITH {_dk_neardup_edges_sym()},
{_dk_lpa("e")}
SELECT lbl AS community, COUNT(*) AS n_docs
FROM l{_LPA_ROUNDS} GROUP BY lbl
"""


def _communities_incremental_sql() -> str:
    """Replays the base-restricted LPA unroll over base-base edges, then
    the single delta vote round, the isolated-base singletons, and the
    census — the full incremental pipeline is hash-checked."""
    from hive_2_spark.llm.dedup import _dk_neardup_edges_sym

    m = _INC_DELTA_MOD
    kf = _LPA_ROUNDS
    return f"""
WITH {_dk_neardup_edges_sym()},
be AS MATERIALIZED (
  SELECT src, dst FROM e WHERE src % {m} != 0 AND dst % {m} != 0
),
{_dk_lpa("be")},
delta_nodes AS (SELECT DISTINCT src AS node FROM e WHERE src % {m} = 0),
de AS (SELECT src, dst FROM e WHERE src % {m} = 0 AND dst % {m} != 0),
{_dk_plurality("da", "de", f"l{kf}")},
dl AS (
  SELECT dn.node, COALESCE(da.lbl, dn.node) AS lbl, 1 AS is_delta
  FROM delta_nodes dn LEFT JOIN da USING (node)
),
bi AS (
  SELECT node, node AS lbl, 0 AS is_delta FROM (
    SELECT DISTINCT src AS node FROM e WHERE src % {m} != 0
  ) WHERE node NOT IN (SELECT node FROM l{kf})
),
all_l AS (
  SELECT node, lbl, 0 AS is_delta FROM l{kf}
  UNION ALL SELECT node, lbl, is_delta FROM dl
  UNION ALL SELECT node, lbl, is_delta FROM bi
)
SELECT lbl AS community, COUNT(*) AS n_docs,
       CAST(SUM(is_delta) AS BIGINT) AS n_delta
FROM all_l GROUP BY lbl
"""


_PPR_ITER_CTE = """
pr{k} AS (
  SELECT e.dst AS node,
         CASE WHEN e.dst = (SELECT s FROM seed) THEN {one_minus_d}
              ELSE 0.0 END
         + {d} * SUM(pr{p}.rank * e.w) AS rank
  FROM edges_w e
  JOIN pr{p} ON e.src = pr{p}.node
  GROUP BY e.dst
)"""


def _pagerank_personalized_sql() -> str:
    iters = ",".join(
        _PPR_ITER_CTE.format(
            k=k, p=k - 1, d=_DAMPING, one_minus_d=1.0 - _DAMPING
        )
        for k in range(1, _ITERS + 1)
    )
    return f"""
WITH {_DK_WEIGHTED_EDGES}, seed AS (
  SELECT MIN(src) AS s FROM deg WHERE src >= 0
), pr0 AS (
  SELECT src AS node,
         CASE WHEN src = (SELECT s FROM seed)
              THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS rank
  FROM deg
), {iters}
SELECT node, rank FROM (
  SELECT CASE WHEN node >= 0 THEN 'c' || CAST(node AS VARCHAR)
         ELSE 's' || CAST(-node AS VARCHAR) END AS node,
         ROUND(rank, 6) AS rank
  FROM pr{_ITERS}
) ORDER BY rank DESC, node ASC LIMIT {_TOPK}
"""


def _hits_sql() -> str:
    """Replays the exact-integer alternation in HUGEINT: a1 =
    in-degree, then alternating SUM joins; one CAST-DOUBLE division
    at the end. Same tie-break (rounded score desc, node asc)."""
    rounds = []
    for k in range(2, _HITS_ROUNDS + 1):
        p = k - 1
        rounds.append(
            f""",
a{k} AS (SELECT e.s, SUM(h{p}.hv) AS av FROM e JOIN h{p} USING (c)
         GROUP BY e.s),
h{k} AS (SELECT e.c, SUM(a{k}.av) AS hv FROM e JOIN a{k} USING (s)
         GROUP BY e.c)"""
        )
    r = _HITS_ROUNDS
    return f"""
WITH {_DK_TRADE_EDGES},
e AS (SELECT cnode AS c, snode AS s FROM pairs),
a1 AS (SELECT s, CAST(COUNT(*) AS HUGEINT) AS av FROM e GROUP BY s),
h1 AS (SELECT e.c, SUM(a1.av) AS hv FROM e JOIN a1 USING (s)
       GROUP BY e.c){"".join(rounds)},
ht AS (SELECT SUM(hv) AS t FROM h{r}),
at AS (SELECT SUM(av) AS t FROM a{r}),
hubs AS (
  SELECT 'hub' AS role, 'c' || CAST(c AS VARCHAR) AS node,
         ROUND(CAST(hv AS DOUBLE) / CAST(ht.t AS DOUBLE), 6) AS score
  FROM h{r}, ht ORDER BY score DESC, node ASC LIMIT 20
),
auths AS (
  SELECT 'authority' AS role, 's' || CAST(-s AS VARCHAR) AS node,
         ROUND(CAST(av AS DOUBLE) / CAST(at.t AS DOUBLE), 6) AS score
  FROM a{r}, at ORDER BY score DESC, node ASC LIMIT 20
)
SELECT * FROM hubs UNION ALL SELECT * FROM auths
"""


def _kcore_sql() -> str:
    """Unrolls the same sequential peel as the Spark side: for each
    k = 2.._KCORE_KMAX, _KCORE_ROUNDS rounds of (degree >= k nodes,
    both-endpoint edge restriction), then core(v) = MAX k over the
    surviving node sets. MATERIALIZED per-round edge CTEs — each is
    read by the next round's degree count AND the next k's peel."""
    from hive_2_spark.llm.dedup import _dk_neardup_edges_sym

    ctes = []
    prev = "e0"
    core_sel = ["SELECT DISTINCT src AS doc_id, 1 AS core FROM e0"]
    for k in range(2, _KCORE_KMAX + 1):
        for r in range(1, _KCORE_ROUNDS + 1):
            cur = f"e{k}_{r}"
            ctes.append(
                f"""n{k}_{r} AS (
  SELECT src AS node FROM {prev} GROUP BY src HAVING COUNT(*) >= {k}
), {cur} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {prev} e
  JOIN n{k}_{r} a ON e.src = a.node
  JOIN n{k}_{r} b ON e.dst = b.node
)"""
            )
            prev = cur
        core_sel.append(
            f"SELECT DISTINCT src AS doc_id, {k} AS core FROM {prev}"
        )
    return f"""
WITH {_dk_neardup_edges_sym()},
e0 AS MATERIALIZED (SELECT src, dst FROM e),
{",".join(ctes)},
cores AS ({" UNION ALL ".join(core_sel)})
SELECT doc_id, CAST(MAX(core) AS BIGINT) AS core
FROM cores GROUP BY doc_id
"""


def _cc_largestar_sql() -> str:
    """Unrolls every large-star/small-star pair, then the parent census
    — the same exact-integer round functions as the Spark side."""
    from hive_2_spark.llm.dedup import _dk_neardup_pairs

    rounds = []
    for k in range(1, _CC_STAR_ROUNDS + 1):
        p = k - 1
        rounds.append(
            f"""ls{k} AS MATERIALIZED (
  WITH sym AS (SELECT u, v FROM e{p} UNION SELECT v, u FROM e{p}),
  mn AS (SELECT u, LEAST(u, MIN(v)) AS m FROM sym GROUP BY u)
  SELECT DISTINCT s.v AS u, mn.m AS v
  FROM sym s JOIN mn ON s.u = mn.u WHERE s.v > s.u
), e{k} AS MATERIALIZED (
  WITH canon AS (
    SELECT DISTINCT GREATEST(u, v) AS u, LEAST(u, v) AS v
    FROM ls{k} WHERE u <> v
  ),
  mn AS (SELECT u, MIN(v) AS m FROM canon GROUP BY u)
  SELECT DISTINCT u, v FROM (
    SELECT c.v AS u, mn.m AS v FROM canon c JOIN mn ON c.u = mn.u
    UNION ALL
    SELECT u, m AS v FROM mn
  ) WHERE u <> v
)"""
        )
    kf = _CC_STAR_ROUNDS
    return f"""
WITH {_dk_neardup_pairs()},
e0 AS MATERIALIZED (
  SELECT a_id AS u, b_id AS v FROM p WHERE a_id <> b_id
),
{",".join(rounds)},
par AS (SELECT u, MIN(v) AS pr FROM e{kf} GROUP BY u),
nodes AS (
  SELECT DISTINCT u FROM (SELECT u FROM e0 UNION ALL SELECT v FROM e0)
)
SELECT COALESCE(par.pr, nodes.u) AS component,
       COUNT(*) AS n_docs
FROM nodes LEFT JOIN par ON nodes.u = par.u
GROUP BY 1
"""


def _dk_uniform_step(k: int) -> str:
    """Walk step ``k`` of ``graph_random_walks``: the CTE ``w<k>``
    (start, prev, cur), each walk moved to neighbor number
    md5(start:k:cur) % deg + 1."""
    h = _dk_hex_int(
        "md5(CAST(w.start AS VARCHAR) || "
        f"':{k}:' || CAST(w.cur AS VARCHAR))",
        12,
    )
    return f"""w{k} AS MATERIALIZED (
  SELECT w.start, w.cur AS prev, nb.dst AS cur
  FROM w{k - 1} w
  JOIN deg ON w.cur = deg.src
  JOIN nb ON nb.src = w.cur AND nb.idx = ({h}) % deg.d + 1
)"""


def _dk_walks_start() -> str:
    """Both walk oracles' start: the near-dup edges ``e``, their
    (src, dst-asc) adjacency numbering ``nb``, the degrees ``deg``, the
    zero-step walks ``w0`` and the uniform first step ``w1``."""
    from hive_2_spark.llm.dedup import _dk_neardup_edges_sym

    return f"""{_dk_neardup_edges_sym()},
nb AS MATERIALIZED (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst ASC) AS idx
  FROM e
),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
w0 AS (SELECT src AS start, src AS cur FROM deg),
{_dk_uniform_step(1)}"""


def _dk_walk_census(steps: int) -> str:
    """The visit census over the walk steps ``w0`` .. ``w<steps>``."""
    union = " UNION ALL ".join(
        f"SELECT cur FROM w{k}" for k in range(steps + 1)
    )
    return f"""allv AS ({union})
SELECT cur AS node, COUNT(*) AS n_visits
FROM allv GROUP BY cur
"""


def _random_walks_sql() -> str:
    """Replays every hop: the same (src, dst-asc) adjacency numbering
    and the same md5(start:k:cur) % deg + 1 next-step rule."""
    steps = "".join(
        f",\n{_dk_uniform_step(k)}" for k in range(2, _WALK_STEPS + 1)
    )
    return f"""
WITH {_dk_walks_start()}{steps},
{_dk_walk_census(_WALK_STEPS)}"""


def _node2vec_sql() -> str:
    """Replays every biased hop: same adjacency numbering, same
    integer weights, same md5(start:k:prev:cur) % total-weight draw,
    same first-cum-exceeding-the-draw pick."""
    steps = []
    for k in range(2, _N2V_STEPS + 1):
        hk = _dk_hex_int(
            f"md5(CAST(start AS VARCHAR) || ':{k}:' || "
            "CAST(prev AS VARCHAR) || ':' || CAST(cur AS VARCHAR))",
            12,
        )
        steps.append(
            f"""w{k} AS MATERIALIZED (
  SELECT start, cur AS prev, dst AS cur FROM (
    SELECT start, prev, cur, dst, wt,
           SUM(wt) OVER (PARTITION BY start ORDER BY idx) AS cum,
           ({hk}) % (SUM(wt) OVER (PARTITION BY start)) AS draw
    FROM (
      SELECT w.start, w.prev, w.cur, nb.dst, nb.idx,
             CASE WHEN nb.dst = w.prev THEN {_N2V_RET_W}
                  WHEN m.src IS NOT NULL THEN {_N2V_COMMON_W}
                  ELSE {_N2V_FAR_W} END AS wt
      FROM w{k - 1} w
      JOIN nb ON nb.src = w.cur
      LEFT JOIN e m ON m.src = w.prev AND m.dst = nb.dst
    )
  ) WHERE draw >= cum - wt AND draw < cum
)"""
        )
    return f"""
WITH {_dk_walks_start()},
{",".join(steps)},
{_dk_walk_census(_N2V_STEPS)}"""


# SCC oracle: the SPEC, not the algorithm — mutual reachability via a
# recursive-CTE transitive closure (per-user subgraphs are <= |types|
# nodes, so the closure stays tiny), component = min mutually-reachable
# node (self included). Hash equality proves the Spark peel against
# the definition.
_SCC_SQL = f"""
WITH RECURSIVE tidx AS (
  SELECT event_type,
         CAST(ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS BIGINT) AS t
  FROM (SELECT DISTINCT event_type FROM events)
), ev AS (
  SELECT user_id * {_SCC_STRIDE} + t AS node, ts, event_id, user_id
  FROM events JOIN tidx USING (event_type)
), seq AS (
  SELECT node,
         LEAD(node) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS nxt
  FROM ev
), edges AS (
  SELECT DISTINCT node AS src, nxt AS dst FROM seq
  WHERE nxt IS NOT NULL AND nxt <> node
), nodes AS (
  SELECT DISTINCT node FROM ev
), reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), mutual AS (
  SELECT a.src AS u, a.dst AS v
  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
), comp AS (
  SELECT n.node,
         LEAST(n.node, COALESCE(MIN(m.v), n.node)) AS component
  FROM nodes n LEFT JOIN mutual m ON m.u = n.node
  GROUP BY n.node
)
SELECT component, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM comp GROUP BY component
"""

ORACLES = {
    "graph_scc": _SCC_SQL,
    "graph_pagerank": _pagerank_sql(),
    "graph_pagerank_personalized": _pagerank_personalized_sql(),
    "graph_pagerank_converged": _pagerank_converged_sql(),
    "graph_triangles": _triangles_sql(),
    "graph_bfs_distance": _BFS_SQL,
    "graph_communities_lpa": _communities_lpa_sql(),
    "graph_communities_incremental": _communities_incremental_sql(),
    "graph_cc_largestar": _cc_largestar_sql(),
    "graph_kcore": _kcore_sql(),
    "graph_hits": _hits_sql(),
    "graph_random_walks": _random_walks_sql(),
    "graph_node2vec_walks": _node2vec_sql(),
}
