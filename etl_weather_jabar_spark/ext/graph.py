"""Distributed connected components for dedup-cluster assembly.

After any near-dup detector emits pairs (MinHash-LSH, SimHash, embedding
cosine — ext/dedup_text.py / ext/similarity.py), turning pairs into
canonical groups ("keep one doc per cluster") is a connected-components
problem: detector edges chain transitively (A~B, B~C ⇒ {A,B,C} even when
A~C was never emitted).

The reference has no graph operators (SURVEY §2 — its dedup is single-key
groupBy, transform_raw_weather.py:78-97); this is a training-pipeline
extension. Algorithm: iterative min-label propagation —

    label(v) ← min(label(v), min over neighbors u of label(u))

repeated until a fixpoint. Each round is one join + one aggregation, both
keyed on the node id; rounds needed = graph diameter (dedup clusters are
shallow — near-dup components have tiny diameters, so 3-5 rounds in
practice). For adversarial long-chain graphs the published fix is
large-star/small-star contraction (Kiveris et al., "Connected Components
in MapReduce and Beyond"), which converges in O(log n) rounds; the loop
below accepts any edge set, so a star-contraction pre-pass can feed it.

Scale notes (100 TB): labels and edges shuffle on node id every round —
partitioning is stable across rounds so AQE reuses the layout; the only
driver-side data is the one-row convergence flag per round. Lineage is cut
with localCheckpoint each round — without it the plan doubles per
iteration and analysis time, not compute, becomes the bottleneck.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..planmode import checkpoint, converged, is_plan_only, loop_rounds

# Small-graph fast path (optimization round 9, guide §1.2): near-dup
# detectors emit SPARSE edge sets (banding bounds cluster sizes), so at
# bench scale the min-label loop's cost is pure per-round scheduling —
# measured 1.25 s for a 256-edge graph (~4 rounds × 3 tiny jobs) while
# a driver union-find is one collect. At or under this many symmetrized
# edges the exact component labeling runs on the driver (same bounded-
# collect convention as the MaxScore caps and IVF centroid pulls; 2^16
# edges ≈ a few MB). Above it — any truly corpus-scale graph — the
# distributed loop below is unchanged. Env knob for production tuning.
_DRIVER_CC_MAX_EDGES = int(
    os.environ.get("SPARK_GRAFT_DRIVER_CC_MAX_EDGES", "65536")
)


def _driver_components(sym: DataFrame) -> DataFrame:
    """Exact union-find over a collected (u, v) edge list: every node
    labeled with the MINIMUM node id reachable — bit-identical to the
    min-label propagation fixpoint."""
    rows = sym.collect()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        u, v = r["u"], r["v"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN id: the root is always the component minimum,
            # so the final label read needs no second pass
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    out = [(n, find(n)) for n in sorted(parent)]
    return sym.sparkSession.createDataFrame(
        out, "node bigint, component bigint"
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component =
    the minimum node id reachable. Isolated nodes (no edges) are absent —
    callers left-join and coalesce to the node's own id. Edges with a null
    endpoint are dropped before the size gate, on both of its paths.

    ``max_iter`` bounds the propagation rounds; convergence (no label
    changed) stops earlier. Raises if the graph hasn't converged at the
    bound — a silent partial closure would merge clusters wrongly.
    """
    sym = edges.select(
        F.col(src).cast("bigint").alias("u"), F.col(dst).cast("bigint").alias("v")
    )
    sym = sym.union(
        edges.select(
            F.col(dst).cast("bigint").alias("u"), F.col(src).cast("bigint").alias("v")
        )
    ).dropna().distinct()
    sym = checkpoint(sym)

    # size-gated driver fast path (module doc above): the checkpointed
    # edge count is one cheap cached-read job; plan-only mode never
    # runs jobs and always audits the distributed loop shape
    if not is_plan_only() and sym.count() <= _DRIVER_CC_MAX_EDGES:
        return _driver_components(sym)

    labels = checkpoint(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(loop_rounds(max_iter)):
        nbr_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = checkpoint(
            labels.join(nbr_min, labels.node == nbr_min.u, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
            )
        )
        prev = labels
        labels = new_labels
        if converged(
            lambda: new_labels.alias("n")
            .join(prev.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
            == 0
        ):
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def _symmetrize(e: DataFrame) -> DataFrame:
    return (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, where m = min(Γ(u) ∪ {u}).
    Input must be symmetric; strictly-larger neighbors re-attach to the
    neighborhood minimum, halving long-path heights."""
    m = e.groupBy("u").agg(F.min("v").alias("mv"))
    withm = e.join(m, "u").withColumn("m", F.least("u", "mv"))
    return (
        withm.where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges high→low, then attach every low neighbor (and u) to the
    minimum of u's low neighborhood."""
    lo = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    m = lo.groupBy("u").agg(F.min("v").alias("mv"))
    withm = lo.join(m, "u")
    out = withm.select(F.col("v").alias("u"), F.col("mv").alias("v")).union(
        withm.select("u", F.col("mv").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """(node, component) via alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log n) rounds on ANY graph, vs. O(diameter) for the label
    propagation in `connected_components`. Use this when components can be
    long chains (link graphs, co-citation); for shallow dedup clusters the
    simple propagation does fewer total shuffles.

    At the fixpoint the edge set IS the answer: a star (v → component
    min) per non-root node. Convergence is detected by a (count, hash-xor)
    signature of the edge set — the contraction is monotone, so a stable
    signature means a stable set.
    """
    raw = edges.select(
        F.col(src).cast("bigint").alias("u"), F.col(dst).cast("bigint").alias("v")
    )
    # Node set before dropping self-loops: a node seen only as (x, x) is a
    # singleton component, same as in `connected_components`.
    nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
    )
    nodes = checkpoint(nodes)
    e = checkpoint(raw.where(F.col("u") != F.col("v")).distinct())
    prev_sig = None
    for _ in range(loop_rounds(max_iter)):
        e = checkpoint(_small_star(_large_star(_symmetrize(e))))
        if is_plan_only():
            stable = True
        else:
            # bit_xor, not sum: ANSI mode throws on bigint-sum overflow,
            # and the edge set is distinct so xor is a faithful set
            # signature.
            sig = e.agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            ).collect()[0]
            sig = (sig["n"], sig["h"])
            stable = sig == prev_sig
            prev_sig = sig
        if stable:
            roots = e.select(F.col("v").alias("node"), F.col("v").alias("component"))
            leaves = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
            labels = leaves.union(roots).distinct()
            # nodes whose component is a singleton pair resolved fully:
            return (
                nodes.join(labels, "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("component"), F.col("node")).alias("component"),
                )
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iter} rounds"
    )


def count_triangles(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle count of an undirected simple graph → one row
    ``(n_triangles, n_edges)``.

    Edges are canonicalized to (lo, hi) and deduped, so each triangle
    a<b<c is closed exactly once by the two-join wedge pattern
    (e1=(a,b) ⋈ e2=(b,c) ⋈ e3=(a,c)) — no driver-side adjacency, two
    shuffles on node keys. At real scale the classic refinement orders
    endpoints by degree instead of value (Suri & Vassilvitskii, WWW'11)
    to bound wedge fan-out at high-degree hubs; the join shape is
    unchanged.
    """
    u = F.col(src).cast("bigint")
    v = F.col(dst).cast("bigint")
    e = (
        edges.where(u != v)
        .select(F.least(u, v).alias("a"), F.greatest(u, v).alias("b"))
        .distinct()
    )
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e2.a") == F.col("e1.b"))
        .join(
            e.alias("e3"),
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return tri.crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Power-iteration PageRank on a directed graph → ``(node, rank)``,
    ranks summing to 1. The canonical iterative-join workload: each round
    is contribs = ranks ⋈ edges → groupBy(dst) → sum, then the damping
    update — all distributed, with two model-sized driver touches per
    round (the 1-row dangling-mass aggregate, and localCheckpoint to cut
    the growing lineage, same policy as connected_components).

    Dangling nodes (no out-edges) redistribute their mass uniformly, so
    total rank is conserved every round (the invariant the tests pin).
    Duplicate edges are collapsed; self-loops count as ordinary edges.
    """
    e = (
        edges.select(
            F.col(src).cast("bigint").alias("u"),
            F.col(dst).cast("bigint").alias("v"),
        )
        .distinct()
    )
    e = checkpoint(e)
    nodes = checkpoint(
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    # plan-only: the node-count scalar and per-round dangling mass feed
    # literal coefficients — placeholders keep the plan shape identical
    # without running the jobs
    n = 1 if is_plan_only() else nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(loop_rounds(iterations)):
        linked = ranks.join(deg, ranks.node == deg.u, "left")
        contribs = (
            linked.where(F.col("outdeg").isNotNull())
            .join(e, "u")
            .select(
                F.col("v").alias("node"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        dangling = (
            0.0
            if is_plan_only()
            else linked.where(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
            .collect()[0]["dm"]
        )
        base = (1.0 - damping) / n + damping * dangling / n
        ranks = checkpoint(
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base) + F.lit(damping) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


def bfs_levels(
    edges: DataFrame,
    source: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Single-source BFS levels over an undirected graph: (node, level)
    for every node reachable from ``source``, level = unweighted
    shortest-path distance.

    Frontier iteration: each round joins the CURRENT frontier (not the
    whole visited set) against the symmetrized edge list, anti-joins the
    already-leveled nodes away, and stamps the round number — so per
    round the shuffle is frontier-sized, the rounds number the graph's
    diameter, and the only driver-side data is one emptiness check per
    round (the same iterative-algorithm discipline as
    :func:`connected_components`: localCheckpoint every round to stop
    lineage doubling). Unreached components simply never appear.
    """
    spark = edges.sparkSession
    sym = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .unionByName(
            edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d"))
        )
        .where(F.col("s") != F.col("d"))
        .distinct()
    )
    sym = checkpoint(sym)
    levels = checkpoint(
        spark.createDataFrame([(source, 0)], "node BIGINT, level INT")
    )
    frontier = levels
    for i in range(1, loop_rounds(max_iter) + 1):
        nxt = checkpoint(
            frontier.join(sym, frontier["node"] == sym["s"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(levels.select("node"), "node", "left_anti")
            .withColumn("level", F.lit(i))
        )
        if converged(lambda: nxt.limit(1).count() == 0):
            break
        levels = checkpoint(levels.unionByName(nxt))
        frontier = nxt
    return levels


def label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """SYNCHRONOUS label propagation (Raghavan et al. 2007) — the
    cheap community-detection pass a dedup/graph pipeline runs when
    connected components is too coarse (CC merges everything touching;
    LPA splits a component into densely-linked groups).

    Deterministic exact form: labels start as the node id; every round
    ALL nodes simultaneously adopt the label held by the majority of
    their neighbors, ties broken by the SMALLEST label — so with a
    fixed round count the result is a pure function of the edge set
    and any engine replays it (asynchronous LPA, the usual variant, is
    update-order-dependent and cannot be certified). Returns
    (node, lbl) after ``rounds`` rounds.

    100 TB: each round is one equi-join of edges against the label
    frame (shuffle on dst) + one (node, lbl) count + one argmax agg
    (min of (−count, lbl) structs — partial-aggregatable); labels are
    checkpointed per round so lineage stays flat. Nodes are defined
    FROM the symmetrized edge set, so every node has ≥ 1 neighbor and
    no keep-old-label fallback path is needed."""
    ed = checkpoint(
        edges.select("src", "dst")
        .union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    lab = ed.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").cast("bigint").alias("lbl")
    )
    for _ in range(loop_rounds(rounds)):
        c = (
            ed.join(
                lab.select(F.col("node").alias("dst"), "lbl"), "dst"
            )
            .groupBy("src", "lbl")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        lab = checkpoint(
            c.groupBy("src")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lbl"))
                ).alias("b")
            )
            .select(F.col("src").alias("node"), F.col("b.lbl").alias("lbl"))
        )
    return lab
