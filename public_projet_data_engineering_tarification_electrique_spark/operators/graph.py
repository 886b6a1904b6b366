"""Graph-analytic operators over derived similarity graphs (extension
surface). Connected components live in ``dedup.py`` (cluster
transitive closure) and PageRank in the registry (q134); this module
adds the local-structure statistic both of those miss: triangle
counting / clustering coefficient — the standard audit for whether a
kNN/semantic graph has real community structure (high clustering) or
is hub-noise (low clustering), run before trusting graph-based
curation decisions.

Scale design — the MapReduce-classic node-ordering orientation
(Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
Reducer", WWW'11): orient every undirected edge from the
lower-(degree, id) endpoint to the higher one. Every triangle then has
EXACTLY ONE wedge rooted at its lowest vertex, so
``E ⋈ E on source → check closing edge`` counts each triangle once,
and the wedge fan-out per node is bounded by its OUT-degree under the
orientation — O(m^1.5) total work instead of the Θ(Σ deg²) of naive
wedge counting, which is the difference between feasible and not on a
power-law graph (the "last reducer" holding a celebrity node).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import _fixpoint


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    part_col: str | None = None,
) -> DataFrame:
    """Triangle count + global clustering coefficient per partition
    label (or one global row when ``part_col`` is None).

    ``edges`` is an undirected edge list; duplicate orientations
    (a,b)/(b,a) and self-loops are tolerated — edges are canonicalized
    to (min, max) and de-duplicated first, so callers can feed a
    directed kNN edge list straight in.

    Plan: degrees = one hash agg over the exploded endpoints; the
    orientation is a projection after one (broadcastable at dimension
    grain, else shuffled) join of degrees back onto edges; the wedge
    join and the closing-edge join are both equi-joins on node /
    edge keys. Counts are exact integers; the clustering coefficient
    is the single terminal division, rounded.

    Output: (part, n_nodes, n_edges, n_triangles, n_wedges,
    clustering_coeff) where n_wedges counts unordered open+closed
    two-paths and clustering_coeff = 3·triangles / wedges.
    """
    part = F.col(part_col) if part_col else F.lit("all")
    # und fans out 4 ways (deg, oriented, closing, summary) and deg 3
    # ways (da, db, nodes); without the lazy checkpoints every branch
    # re-derives the caller's FULL edge subtree (q171's kNN self-join
    # appeared 10× over — 90 parquet scans / 246 Exchanges in the
    # r12-before plan). Each checkpoint computes once, later branches
    # read the persisted partitions.
    und = (
        edges.select(
            part.alias("_p"),
            F.least(F.col(src_col), F.col(dst_col)).alias("_a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("_b"),
        )
        .filter(F.col("_a") < F.col("_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select("_p", F.explode(F.array("_a", "_b")).alias("_v"))
        .groupBy("_p", "_v")
        .agg(F.count("*").alias("_d"))
        .localCheckpoint(eager=False)
    )
    # Orient low(deg, id) -> high(deg, id): join degree onto both ends.
    da = deg.select(
        F.col("_p"), F.col("_v").alias("_a"), F.col("_d").alias("_da")
    )
    db = deg.select(
        F.col("_p"), F.col("_v").alias("_b"), F.col("_d").alias("_db")
    )
    oriented = (
        und.join(da, on=["_p", "_a"]).join(db, on=["_p", "_b"])
        .select(
            "_p",
            F.when(
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("_a") < F.col("_b"))),
                F.struct(F.col("_a").alias("u"), F.col("_b").alias("v")),
            )
            .otherwise(
                F.struct(F.col("_b").alias("u"), F.col("_a").alias("v"))
            )
            .alias("_e"),
        )
        .select("_p", "_e.u", "_e.v")
        .localCheckpoint(eager=False)
    )
    # Wedges rooted at u: pairs of out-neighbors (v < w); closing edge
    # (v, w) must exist in the ORIENTED list (it does, in exactly one
    # direction, and v<w ordering alone is not that direction — check
    # both). Canonical check: closing edge as unordered pair vs `und`.
    e1 = oriented.select("_p", "u", F.col("v").alias("x"))
    e2 = oriented.select("_p", "u", F.col("v").alias("y"))
    wedges = e1.join(e2, on=["_p", "u"]).filter(F.col("x") < F.col("y"))
    closing = und.select(
        "_p", F.col("_a").alias("x"), F.col("_b").alias("y")
    )
    tri = wedges.join(closing, on=["_p", "x", "y"]).groupBy("_p").agg(
        F.count("*").alias("n_triangles")
    )
    summary = und.groupBy("_p").agg(F.count("*").alias("n_edges"))
    nodes = deg.groupBy("_p").agg(
        F.count("*").alias("n_nodes"),
        # unordered two-paths through each node: sum d(d-1)/2, exact int
        F.sum(F.col("_d") * (F.col("_d") - 1)).alias("_dd"),
    )
    return (
        summary.join(nodes, on="_p")
        .join(tri, on="_p", how="left")
        .select(
            F.col("_p").alias("part"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            (F.col("_dd") / 2).cast("long").alias("n_wedges"),
            F.when(
                F.col("_dd") > 0,
                F.round(
                    F.coalesce(F.col("n_triangles"), F.lit(0))
                    * F.lit(6.0)
                    / F.col("_dd").cast("double"),
                    6,
                ),
            ).alias("clustering_coeff"),
        )
    )


def degree_histogram(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Log2-binned degree distribution of an undirected graph — the
    one-glance skew check run BEFORE any per-node join or window: a
    heavy tail here is the early warning that salting / df-capping
    will be needed downstream (cf. the blocking caps in dedup and the
    kNN bucket bounds).

    The bucket is length(bin(degree)) = ⌊log2(degree)⌋ + 1, computed
    on the INTEGER's binary-string length in both engines (Spark
    ``bin``, DuckDB ``bin``) — no float log whose boundary rounding
    could disagree. Bucket b holds degrees in [2^(b−1), 2^b).

    Plan shape: symmetrize → one (node) hash agg for degrees → one
    tiny (bucket) agg; both map-side combined. Output:
    (degree_bucket, min_degree, max_degree, n_nodes).
    """
    sym = edges.select(F.col(src).alias("_n")).unionAll(
        edges.select(F.col(dst).alias("_n"))
    )
    deg = sym.groupBy("_n").agg(F.count("*").alias("_d"))
    bucket = F.length(F.bin(F.col("_d"))).cast("int")
    return deg.groupBy(bucket.alias("degree_bucket")).agg(
        F.min("_d").cast("long").alias("min_degree"),
        F.max("_d").cast("long").alias("max_degree"),
        F.count("*").cast("long").alias("n_nodes"),
    )


def label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int = 2,
    id_col: str = "id",
    label_col: str = "label",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Semi-supervised label propagation with clamped seeds (the
    classic Zhu–Ghahramani iteration, majority-vote variant): nodes
    whose ``label_col`` is non-NULL are seeds and never change; each
    synchronous round, every still-unlabeled node adopts the majority
    label among its already-labeled neighbors (tie → lowest label, so
    the update is a total deterministic function of the graph).

    This is the cheap way to extend a small set of human labels
    (quality ratings, topic tags) over a 100 TB corpus: the expensive
    part — the kNN graph — is already built (``knn_graph``), and each
    propagation round is ONE equi-join of the k-bounded edge list
    against the current assignment plus one (node, label) hash agg —
    O(m) per round, map-side combined, no all-pairs anything. The
    frontier is monotone (labeled stays labeled), so `rounds` bounds
    both cost and the propagation radius; the rounds run through
    ``util._fixpoint``, which cuts the assignment lazily each round so
    the plan does not grow with `rounds`.

    Output: (id, label, round) — round 0 = seed, r ≥ 1 = assigned in
    round r; nodes never reached are absent (callers LEFT-join to
    count them).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    seeds = nodes.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.lit(0).cast("int").alias("round"),
    )
    unlabeled = nodes.filter(F.col(label_col).isNull()).select(
        F.col(id_col).alias("id")
    )
    # Pin the edge list ONCE: it is consumed every round, and when it
    # is itself an expensive derivation (a kNN graph) re-deriving it
    # per round would multiply the dominant cost by `rounds` (measured
    # 9.3 s → ~4 s at sf0.1 for the q211 wrapper). eager=False: the
    # first action materializes it, later rounds reuse the blocks.
    adj = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).localCheckpoint(eager=False)
    w = Window.partitionBy("_s").orderBy(F.desc("_n"), F.asc("_lab"))
    round_no = itertools.count(1)

    def step(assign: DataFrame) -> DataFrame:
        # still unlabeled: not assigned in any earlier round
        open_ids = unlabeled.join(
            assign.filter(F.col("round") > 0), on="id", how="left_anti"
        )
        votes = (
            adj.join(open_ids, adj["_s"] == open_ids["id"], "leftsemi")
            .join(
                assign.select(
                    F.col("id").alias("_d"), F.col("label").alias("_lab")
                ),
                on="_d",
            )
            .groupBy("_s", "_lab")
            .agg(F.count("*").alias("_n"))
        )
        picked = (
            votes.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select(
                F.col("_s").alias("id"),
                F.col("_lab").alias("label"),
                F.lit(next(round_no)).cast("int").alias("round"),
            )
        )
        return assign.unionByName(picked)

    return _fixpoint(seeds.localCheckpoint(eager=False), step, rounds)


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling: repeatedly drop every node whose
    degree in the surviving induced subgraph is below ``k`` — the
    density-community refinement next to connected components (CC
    keeps any bridge-connected fluff; the k-core keeps only the
    mutually-dense backbone curation actually wants).

    FIXED ``rounds`` on both engines (the q134 PageRank contract): one
    peel round removes ALL sub-k nodes simultaneously (order-free —
    unlike sequential min-degree peeling, the simultaneous variant has
    one deterministic result per round), and a bounded unroll in the
    oracle replays it exactly, converged or not. Callers pick
    ``rounds`` to reach the fixpoint at their scale and assert
    convergence in tests; every quantity is an exact integer.

    Input must be a SYMMETRIC distinct edge list (both (u,v) and
    (v,u) present, no self-loops). Per round: two semi-joins restrict
    edges to the surviving nodes, one hash agg on the node id
    recomputes degrees — partitioned by node key throughout, and the
    alive set (|V| rows) stays orders smaller than the edges. The
    rounds run through ``util._fixpoint``, whose lazy cut per round
    stops the lineage from compounding across rounds.

    Output: (node, core_deg) for the final survivors, where core_deg
    is the node's degree in the PREVIOUS round's induced subgraph —
    the quantity the final filter tested, identical in the oracle.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=False)

    def step(alive: DataFrame) -> DataFrame:
        # both sides alias `node`, so the two semi-joins share one
        # exchange of the alive set
        return (
            e.join(alive.select(F.col("node").alias("src")), "src", "left_semi")
            .join(alive.select(F.col("node").alias("dst")), "dst", "left_semi")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count("*").cast("long").alias("core_deg"))
            .filter(F.col("core_deg") >= k)
        )

    return _fixpoint(
        e.select(F.col("src").alias("node")).distinct(), step, rounds
    )


def adamic_adar_linkpred(
    edges: DataFrame,
    top_n: int = 20,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Adamic–Adar link prediction over an undirected edge list: score
    NON-edges (a, b) by Σ_z 1/ln(deg(z)) over common neighbors z, the
    classic "friends-of-friends weighted by rarity" recommender — here
    the edge-suggestion audit for the mutual-kNN semantic graph (which
    near-misses should the kNN have connected?).

    Exactness: each wedge center z contributes a 6-dp-snapped weight
    w_z = round(1/ln(deg_z), 6) lifted to the 1e-6 integer grid, so
    the per-pair score sum is an exact long under any aggregation
    order; ONE terminal division back to 6 dp. deg(z) ≥ 2 for every
    wedge center (a center needs two distinct neighbors), so ln > 0.

    Scale shape: wedges come from ONE self-join of the deg-annotated
    adjacency on the center (Σ deg(z)² pairs — bounded for a kNN graph
    where deg ≤ 2k); existing edges are removed by a left-anti join on
    the undirected key; top_n via TakeOrdered (no global sort). Output:
    (id_a, id_b, common, score) — rank-stable ties by (score desc,
    id_a, id_b).
    """
    # lazy checkpoint: the edge substrate (often an expensive kNN
    # subtree) is referenced by deg, the wedge join AND the anti-join
    # — without the checkpoint each reference re-evaluates it
    # (measured 5.4 s -> see PLANS.md r12). Bounded: ≤ N·k rows.
    und = edges.select(
        F.least(src_col, dst_col).alias("_u"),
        F.greatest(src_col, dst_col).alias("_v"),
    ).distinct().localCheckpoint(eager=False)
    adj = und.unionAll(
        und.select(F.col("_v").alias("_u"), F.col("_u").alias("_v"))
    )
    deg = adj.groupBy("_u").agg(F.count(F.lit(1)).alias("_deg"))
    # filter BEFORE the weight projection: deg=1 centers have ln=0
    # and would evaluate 1/0 if the predicate ran after the project
    w = deg.filter(F.col("_deg") >= 2).select(
        F.col("_u").alias("_z"),
        F.round(1.0 / F.log(F.col("_deg").cast("double")), 6).alias(
            "_w"
        ),
    )
    nbrs = adj.select(
        F.col("_u").alias("_z"), F.col("_v").alias("_n")
    ).join(w, on="_z")
    l = nbrs.select("_z", "_w", F.col("_n").alias("id_a"))
    r = nbrs.select("_z", F.col("_n").alias("id_b"))
    wedges = (
        l.join(r, on="_z")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_w")
    )
    non_edges = wedges.join(
        und.select(
            F.col("_u").alias("id_a"), F.col("_v").alias("id_b")
        ),
        on=["id_a", "id_b"],
        how="left_anti",
    )
    scored = non_edges.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("common"),
        F.sum(F.round(F.col("_w") * 1e6, 0).cast("long")).alias("_sq"),
    )
    return (
        scored.select(
            "id_a",
            "id_b",
            "common",
            F.round(F.col("_sq") / 1e6, 6).alias("score"),
        )
        .orderBy(
            F.col("score").desc(), F.col("id_a").asc(), F.col("id_b").asc()
        )
        .limit(top_n)
    )
