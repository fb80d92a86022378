"""Iterative graph algorithms on DataFrames — the driver-loop +
distributed-data pattern (reference parity: cyclic ring flows,
SURVEY §2 A18) applied to a real fixed-point computation.

Scale shape: each iteration is one keyed join + one keyed aggregate —
ranks and edges shuffle on node ids, nothing funnels to the driver
(the only driver-side values are the node count and the loop
counter). ``localCheckpoint`` every few rounds cuts the growing
lineage, the standard trade for driver-loop iteration (same as
``dedup_clusters``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

DRIVER_EDGE_BOUND = 2_000_000
"""Aggregated-edge-count gate for the driver pagerank replay — a
property of the DATA (measured edge count), never of core count;
tests lower it to force the distributed branch (branch parity)."""


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "p",
    damping: float = 0.85,
    iters: int = 10,
    checkpoint_every: int = 3,
    seed_nodes: list | None = None,
) -> DataFrame:
    """Weighted PageRank with a fixed iteration count (deterministic —
    no convergence test, so any engine replaying the same arithmetic
    reproduces it; the DuckDB oracle unrolls the loop as chained
    CTEs).

    ``weight_col`` must hold out-normalized edge weights (sum to 1 per
    source). Teleport and damping are spelled as the same literal
    expression tree the oracle uses, keeping even the IEEE rounding
    identical. Returns (node, r).

    ``seed_nodes`` switches to PERSONALIZED PageRank: the teleport
    mass lands only on the seed set (uniformly), so ranks measure
    proximity to the seeds instead of global centrality — the
    recommendation / similar-items variant. The random walk is
    identical; only the restart vector changes.
    """
    # Materialize the edge frame ONCE before iterating: the caller
    # usually hands a plan (scan → window → aggregate), and without
    # this every iteration's contrib join re-executes that whole
    # upstream pipeline — 10 iterations = 10 source scans. One eager
    # localCheckpoint makes each iteration touch only the (far
    # smaller) aggregated edge list; at cluster scale this is the
    # standard cache-the-invariant step of any iterative algorithm.
    edges = edges.localCheckpoint(eager=True)
    # The iteration state is one row per node and the work per round
    # is one sparse matrix-vector product over the AGGREGATED edge
    # list — after the groupBy(src,dst) aggregation every caller
    # performs, that list is bounded by |V|², not by the data volume
    # that produced it. When the measured edge count is small the
    # fixed cost of `iters` × (join + aggregate) Spark stages dwarfs
    # the arithmetic, so run the rounds on the driver over the
    # collected edge list (the house bounded-state pattern: BPE merge
    # loops, d×d Gram solves). Large graphs take the distributed
    # branch below unchanged.
    n_edges = edges.count()
    if n_edges <= DRIVER_EDGE_BOUND:
        import numpy as np

        rows = edges.select(
            F.col(src_col).alias("s"),
            F.col(dst_col).alias("d"),
            F.col(weight_col).cast("double").alias("p"),
        ).collect()
        node_vals = sorted({r["s"] for r in rows} | {r["d"] for r in rows})
        idx = {v: i for i, v in enumerate(node_vals)}
        n = len(node_vals)
        s_ix = np.fromiter((idx[r["s"]] for r in rows), dtype=np.int64)
        d_ix = np.fromiter((idx[r["d"]] for r in rows), dtype=np.int64)
        p_arr = np.fromiter((r["p"] for r in rows), dtype=np.float64)
        if seed_nodes is None:
            tele = np.full(n, (1.0 - damping) / n)
        else:
            seeds = set(seed_nodes)
            tele = np.array(
                [
                    (1.0 - damping) / len(seed_nodes) if v in seeds else 0.0
                    for v in node_vals
                ]
            )
        r_vec = np.full(n, 1.0 / n)
        for _ in range(iters):
            contrib = np.zeros(n)
            np.add.at(contrib, d_ix, p_arr * r_vec[s_ix])
            r_vec = tele + damping * contrib
        from pyspark.sql import types as T

        node_type = edges.schema[src_col].dataType
        schema = T.StructType(
            [
                T.StructField("node", node_type),
                T.StructField("r", T.DoubleType()),
            ]
        )
        spark = edges.sparkSession
        return spark.createDataFrame(
            [(v, float(r_vec[i])) for i, v in enumerate(node_vals)], schema
        )
    # nodes is joined every iteration — checkpoint it too, or each of
    # the `iters` left joins re-runs the union+distinct (3 stages).
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .unionByName(edges.select(F.col(dst_col).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # graph cardinality, not data volume
    # The per-iteration state (ranks / contrib) is one row per NODE.
    # When the measured node count is small enough to broadcast, hint
    # both per-iteration joins to build on that side: edges are never
    # shuffled, and each iteration costs exactly ONE exchange (the
    # contrib aggregation) instead of a join shuffle of edges + a
    # nodes-side shuffle for the dangling-node left join. Above the
    # threshold (huge graphs) the hint is withheld and the planner
    # falls back to shuffle joins keyed on node id — the original,
    # always-correct shape.
    bcast_state = n <= 5_000_000
    hint = F.broadcast if bcast_state else (lambda df: df)
    if seed_nodes is None:
        teleport = (F.lit(1.0) - F.lit(damping)) / F.lit(n)
    else:
        teleport = F.when(
            F.col("node").isin(list(seed_nodes)),
            (F.lit(1.0) - F.lit(damping)) / F.lit(len(seed_nodes)),
        ).otherwise(F.lit(0.0))
    ranks = nodes.select("node", (F.lit(1.0) / F.lit(n)).alias("r"))
    for i in range(iters):
        contrib = (
            edges.join(hint(ranks), edges[src_col] == ranks["node"])
            .groupBy(F.col(dst_col).alias("node"))
            .agg(F.sum(F.col(weight_col) * F.col("r")).alias("contrib"))
        )
        ranks = nodes.join(hint(contrib), "node", "left").select(
            "node",
            (
                teleport
                + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("r"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def k_core(
    edges: DataFrame,
    k: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 100,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    nodes of degree < k (undirected, self-loops/duplicates ignored)
    until the fixpoint; returns the surviving (node, degree) rows —
    degrees measured INSIDE the core.

    Each round is one degree aggregate + two anti-joins (drop edges
    touching a peeled endpoint) — everything shuffles on node id, the
    only driver-side value is the peeled-node count that decides
    termination (same driver-loop pattern as :func:`pagerank` /
    ``dedup_clusters``). The round count is bounded by the peeling
    depth (≤ longest degeneracy chain, usually ≪ 20 on real graphs);
    raises after ``max_iters`` instead of silently returning a
    non-core."""
    adj = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    adj = adj.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
        adj.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    # Eager checkpoint each round: the isEmpty() probe and the next
    # round's degree aggregate would otherwise BOTH re-execute the
    # whole peel chain from the last checkpoint — measured 2× per
    # round on the co-purchase graph.
    adj = adj.localCheckpoint(eager=True)
    for _ in range(max_iters):
        deg = adj.groupBy("node").agg(F.count("*").alias("degree"))
        bad = deg.filter(F.col("degree") < k).select("node")
        if bad.isEmpty():
            return deg
        adj = (
            adj.join(bad, "node", "left_anti")
            .join(bad.select(F.col("node").alias("nbr")), "nbr", "left_anti")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(
        f"k_core did not reach a fixpoint in {max_iters} rounds"
    )


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Count triangles in an undirected graph given as an edge list
    (direction and duplicates ignored; self-loops dropped). Returns a
    single row (n_edges, n_triangles).

    Plan: canonicalize every edge to (a < b) and dedup, then enumerate
    each triangle exactly once as a < b < c via two equi-joins —
    e(a,b) ⋈ e(b,c) on the middle node, verified against e(a,c).
    Id-ordering makes each triangle appear once with zero post-dedup.

    Scale note: the e⋈e join's intermediate is Σ_b deg(b)² — fine for
    sparse graphs, dominated by hub nodes on skewed ones. The standard
    refinement (orient each edge low-degree → high-degree node before
    joining, bounding the intermediate by Σ deg(v)·α(G)) composes here
    as a degree-ranked relabel of (a, b) before this function; id
    order is kept as-is because it is oracle-reproducible in ANSI SQL.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"])
    return tri.agg(F.count("*").alias("n_triangles")).crossJoin(
        F.broadcast(e.agg(F.count("*").alias("n_edges")))
    ).select("n_edges", "n_triangles")


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Synchronous label propagation (community detection): every node
    starts as its own community and repeatedly adopts the most common
    label among its neighbors, ties broken by SMALLEST label — the
    deterministic variant (classic async LPA is run-order dependent;
    synchronous + min-tie-break makes every engine and every run agree,
    which is what lets the oracle replay it).

    Voting is SELF-INCLUSIVE (a node's own current label counts as one
    vote): pure neighbor voting oscillates forever on bipartite
    structures — a lone edge {a,b} swaps labels every round — while
    the self-vote turns those into a tie the min-label rule settles.

    Returns (node, lbl) after ``iters`` rounds. Scale shape per round:
    one join of the undirected adjacency against the label frame
    (shuffle keyed on node), one (node, lbl) count, one per-node argmax
    window. ``localCheckpoint`` after each round stops Catalyst from
    re-inlining the whole history (the q131 pagerank lesson).
    Isolated nodes keep their label."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(iters):
        msgs = und.join(
            labels.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "lbl").unionByName(
            labels.select("node", "lbl")  # the self-vote
        )
        counts = msgs.groupBy("node", "lbl").agg(F.count("*").alias("c"))
        w = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("lbl")
        )
        best = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("lbl").alias("new_lbl"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("new_lbl", "lbl").alias("lbl"),
            )
            .localCheckpoint(eager=False)
        )
    return labels


def transitive_root(
    nodes: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    doublings: int = 4,
) -> DataFrame:
    """Root ancestor + depth for every node of a forest by POINTER
    DOUBLING: after k rounds every pointer has jumped 2^k edges, so a
    depth-D hierarchy resolves in ⌈log₂D⌉ self-joins — the parallel
    answer to WITH RECURSIVE's sequential walk (the oracle uses real
    recursion; this plan is what survives a 100 TB hierarchy, where a
    depth-proportional loop would mean D full shuffles instead of
    log D).

    ``parent_col`` NULL marks a root. Roots self-loop with step 0, so
    iterating past convergence is a no-op (no conditional logic in
    the loop). Returns (node, root, depth)."""
    f = nodes.select(
        F.col(node_col).alias("node"),
        F.coalesce(F.col(parent_col), F.col(node_col)).alias("nxt"),
        F.when(F.col(parent_col).isNotNull(), 1)
        .otherwise(0)
        .cast("long")
        .alias("step"),
    ).localCheckpoint(eager=False)
    for _ in range(doublings):
        hop = f.select(
            F.col("node").alias("nxt"),
            F.col("nxt").alias("nxt2"),
            F.col("step").alias("step2"),
        )
        f = (
            f.join(hop, "nxt")
            .select(
                "node",
                F.col("nxt2").alias("nxt"),
                (F.col("step") + F.col("step2")).alias("step"),
            )
            .localCheckpoint(eager=False)
        )
    return f.select(
        "node", F.col("nxt").alias("root"), F.col("step").alias("depth")
    )


def sssp_weighted(
    edges: DataFrame,
    source: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    max_rounds: int = 4,
    directed: bool = False,
) -> DataFrame:
    """Single-source WEIGHTED shortest paths via Bellman–Ford
    relaxation: per round, dist(v) = min(dist(v), min over incoming
    (u,v,w) of dist(u)+w) — one keyed join + one min-aggregate, the
    weighted sibling of :func:`bfs_levels` (hop counting is the
    w≡1 special case). ``source`` is a 1-column ``node`` frame
    (multi-seed: nearest-seed distances).

    ``max_rounds`` bounds the relaxation: the result is EXACT for
    every shortest path of ≤ max_rounds edges (the classic
    Bellman–Ford invariant), which is both the unrollable-oracle
    contract (q301 replays the rounds as CTEs) and the practical
    small-world setting; run ``max_rounds = n−1`` for full exactness
    on non-negative weights. Scale shape: each round is one shuffle
    keyed by node over the frontier-reachable set, lineage cut per
    round with localCheckpoint (the q131/q282 iterative discipline).
    Keep weights integer for engine-exact minima. Returns (node, d).
    """
    e = edges.select(
        F.col(src_col).alias("a"),
        F.col(dst_col).alias("b"),
        F.col(weight_col).alias("w"),
    )
    if not directed:
        e = e.unionByName(
            edges.select(
                F.col(dst_col).alias("a"),
                F.col(src_col).alias("b"),
                F.col(weight_col).alias("w"),
            )
        )
    # parallel edges: only the lightest can ever relax
    e = e.groupBy("a", "b").agg(F.min("w").alias("w")).localCheckpoint(
        eager=True
    )
    dist = source.select(
        F.col("node"), F.lit(0).cast("long").alias("d")
    ).localCheckpoint(eager=False)
    for _ in range(max_rounds):
        cand = e.join(dist.withColumnRenamed("node", "a"), "a").select(
            F.col("b").alias("node"), (F.col("d") + F.col("w")).alias("d")
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=False)
        )
    return dist


def bfs_levels(
    edges: DataFrame,
    source: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 4,
) -> DataFrame:
    """Single-source hop distances (BFS levels) up to ``max_hops`` on
    an undirected graph: iterative frontier relaxation —
    dist(v) = min(dist(v), min over neighbors u of dist(u)+1) — one
    keyed join + one min-aggregate per hop. ``source`` is a 1-column
    frame ``node`` (possibly several sources: distances are then to
    the NEAREST source, the multi-seed variant used for
    "how far is everything from the seed set").

    Unreached nodes simply don't appear (no sentinel rows to carry).
    Deterministic, so the oracle replays it as ``max_hops`` unrolled
    CTE rounds. Returns (node, d)."""
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = source.select(
        F.col("node"), F.lit(0).cast("long").alias("d")
    ).localCheckpoint(eager=False)
    for _ in range(max_hops):
        cand = und.join(
            dist.withColumnRenamed("node", "a"), "a"
        ).select(F.col("b").alias("node"), (F.col("d") + 1).alias("d"))
        dist = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=False)
        )
    return dist


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    steps: int,
    seed: str = "w",
) -> DataFrame:
    """DETERMINISTIC random walks for graph-embedding sampling (the
    node2vec/DeepWalk data-prep primitive): from each start node,
    advance ``steps`` hops, choosing at each hop the out-neighbor
    that MINIMIZES ``md5(seed#walk#step#dst)`` — a hash-rank draw
    that is uniform-ish over neighbors yet bit-reproducible across
    engines and runs (no RNG state, no driver loop dependence on
    partitioning). Walks that reach a node with no out-edge simply
    terminate (inner join drops them).

    ``starts`` must have a ``node`` column; returns (walk, step,
    node) with step 0 = the start itself.

    Scale shape: the walk state is one row per LIVE walk — tiny next
    to the edge table — so every hop is a BROADCAST join of state
    against edges plus one min_by hash-agg keyed by walk; the edge
    table never shuffles, and ``steps`` is a constant. At 100 TB of
    edges this is `steps` broadcast probes, not `steps` shuffles.
    """
    state = starts.select(
        F.col("node").alias("walk"), F.col("node").alias("cur")
    )
    out = state.select(
        "walk", F.lit(0).cast("long").alias("step"),
        F.col("cur").alias("node"),
    )
    for i in range(1, steps + 1):
        key = F.md5(
            F.concat_ws(
                "#",
                F.lit(seed),
                F.col("walk").cast("string"),
                F.lit(str(i)),
                F.col("dst").cast("string"),
            )
        )
        state = (
            F.broadcast(state)
            .join(edges, F.col("cur") == F.col("src"))
            .groupBy("walk")
            .agg(F.min_by("dst", key).alias("cur"))
            # lineage cut per hop (the bfs_levels discipline): without
            # it, hop k's plan re-executes hops 1..k-1 and the final
            # union costs O(steps²) edge scans instead of O(steps)
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(
            state.select(
                "walk", F.lit(i).cast("long").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    return out


def _scc_driver(edge_list: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Kosaraju on a collected edge list (iterative, two DFS passes):
    the driver-side half of the :func:`scc` hybrid. Deliberately a
    DIFFERENT algorithm from the pytest reference (Tarjan), so the
    small-graph path is independently checked too. Returns
    (node, min-node-id-of-component) pairs."""
    adj: dict[int, list[int]] = {}
    radj: dict[int, list[int]] = {}
    nodes: set[int] = set()
    for s, d in edge_list:
        adj.setdefault(s, []).append(d)
        radj.setdefault(d, []).append(s)
        nodes.add(s)
        nodes.add(d)
    # pass 1: finish order on the forward graph
    seen: set[int] = set()
    order: list[int] = []
    for v0 in sorted(nodes):
        if v0 in seen:
            continue
        stack: list[tuple[int, int]] = [(v0, 0)]
        seen.add(v0)
        while stack:
            v, i = stack.pop()
            nxt = adj.get(v, [])
            while i < len(nxt) and nxt[i] in seen:
                i += 1
            if i < len(nxt):
                stack.append((v, i + 1))
                seen.add(nxt[i])
                stack.append((nxt[i], 0))
            else:
                order.append(v)
    # pass 2: reverse-graph DFS in reverse finish order
    comp: dict[int, int] = {}
    for v0 in reversed(order):
        if v0 in comp:
            continue
        members = [v0]
        comp[v0] = v0
        stack2 = [v0]
        while stack2:
            v = stack2.pop()
            for w in radj.get(v, []):
                if w not in comp:
                    comp[w] = v0
                    members.append(w)
                    stack2.append(w)
        root = min(members)
        for m in members:
            comp[m] = root
    return sorted(comp.items())


def scc(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_outer: int = 50,
    max_inner: int = 200,
    driver_threshold: int = 10_000,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph — the
    trim + forward-coloring + backward-containment algorithm (the
    coloring/MultiStep family used by distributed graph engines),
    completing the graph suite: undirected CC is ``dedup_clusters`` /
    star-CC; this is its directed sibling (web-link spam rings,
    citation loops, money-flow cycles).

    Per outer round:

    1. **Trim**: iteratively peel nodes with no in-edges or no
       out-edges inside the remaining subgraph — each is its own
       singleton SCC (nothing can cycle through it). Trimming first
       dissolves the DAG-shaped bulk of real graphs so the expensive
       phases only see the cyclic core (and makes chains cost
       O(diameter) trim rounds instead of O(n) outer rounds).
    2. **Forward coloring**: propagate ``color(v) = min(v, min
       color(u) over edges u→v)`` to fixpoint — color(v) is the
       smallest remaining node that can reach v.
    3. **Backward containment**: a node u with color r belongs to
       SCC(r) iff u can reach r through nodes of the same color;
       propagate membership backwards from each root r (color(r)=r)
       to fixpoint. Every root's full SCC is found in this round
       (its id is the component's minimum node id, the same label
       convention as ``dedup_clusters``); members leave the graph and
       the next round recolors what remains.

    Every step is a keyed equi-join + aggregate shuffling on node id;
    driver-side values are only loop counters and change counts
    (bounded aggregates), lineage cut per round — the q131/q196
    iterative discipline. Inner fixpoints are diameter-bounded;
    ``max_outer`` bounds pathological peeling (each outer round
    removes at least the SCC of the globally smallest remaining
    node, and trimming removes acyclic tails wholesale). Returns
    (node, scc_id) with scc_id = min node id of the component.

    HYBRID CUTOVER: a graph of ≤ ``driver_threshold`` edges collects
    (a bounded aggregate — summary graphs contracted from 100 TB of
    facts are entity-grain small) and resolves driver-side with
    Kosaraju; above it, the distributed rounds run. The fixpoint
    machinery costs ~5 scheduler round-trips per iteration, so on a
    25-node graph the driver path is two orders of magnitude faster
    while the distributed path is what survives a billion-edge input
    — the same collect-when-bounded judgment as the IBLT peel and
    the d×d Gram solves. Both paths are pinned equal in pytest
    (``driver_threshold=0`` forces the distributed one)."""
    e0 = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if e0.count() <= driver_threshold:
        pairs = _scc_driver(
            [(int(r["src"]), int(r["dst"])) for r in e0.collect()]
        )
        spark = edges.sparkSession
        if not pairs:
            return e0.select(
                F.col("src").alias("node"), F.col("src").alias("scc_id")
            ).filter(F.lit(False))
        return spark.createDataFrame(pairs, "node long, scc_id long")
    nodes = (
        e0.select(F.col("src").alias("node"))
        .unionByName(e0.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    assigned = None  # (node, scc_id)
    rem_nodes, rem_edges = nodes, e0

    def _accumulate(acc: DataFrame | None, part: DataFrame) -> DataFrame:
        return part if acc is None else acc.unionByName(part)

    for _ in range(max_outer):
        if rem_nodes.isEmpty():
            break
        # -- 1. trim acyclic fringe to fixpoint --------------------
        for _t in range(max_inner):
            has_out = rem_edges.select(F.col("src").alias("node")).distinct()
            has_in = rem_edges.select(F.col("dst").alias("node")).distinct()
            keep = has_out.join(has_in, "node")  # in a cycle ⇒ both sides
            trimmed = rem_nodes.join(keep, "node", "left_anti")
            if trimmed.isEmpty():
                break
            assigned = _accumulate(
                assigned,
                trimmed.select("node", F.col("node").alias("scc_id")),
            )
            rem_nodes = rem_nodes.join(keep, "node").localCheckpoint(
                eager=True
            )
            rem_edges = (
                rem_edges.join(keep, rem_edges["src"] == keep["node"])
                .select("src", "dst")
                .join(
                    keep.withColumnRenamed("node", "dst"), "dst"
                )
                .select("src", "dst")
                .localCheckpoint(eager=True)
            )
        if rem_nodes.isEmpty():
            break
        # -- 2. forward min-coloring to fixpoint -------------------
        color = rem_nodes.select("node", F.col("node").alias("color"))
        for _c in range(max_inner):
            contrib = (
                rem_edges.join(
                    color.withColumnRenamed("node", "src"), "src"
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("color").alias("in_color"))
            )
            nxt = (
                color.join(contrib, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("color"),
                        F.coalesce(F.col("in_color"), F.col("color")),
                    ).alias("color"),
                    (
                        F.coalesce(F.col("in_color"), F.col("color"))
                        < F.col("color")
                    ).alias("chg"),
                )
                .localCheckpoint(eager=True)
            )
            changed = nxt.filter(F.col("chg")).count()
            color = nxt.select("node", "color")
            if changed == 0:
                break
        # -- 3. backward containment from roots --------------------
        member = color.filter(F.col("node") == F.col("color")).select(
            "node", F.col("color").alias("scc_id")
        ).localCheckpoint(eager=True)
        for _b in range(max_inner):
            # u joins SCC(c) if some edge u→v has v ∈ SCC(c) and
            # color(u) = c (reachability restricted to the color class)
            cand = (
                rem_edges.join(
                    member.withColumnRenamed("node", "dst"), "dst"
                )
                .select(F.col("src").alias("node"), "scc_id")
                .join(color, "node")
                .filter(F.col("color") == F.col("scc_id"))
                .select("node", "scc_id")
            )
            grown = (
                member.unionByName(cand).distinct().localCheckpoint(
                    eager=True
                )
            )
            if grown.count() == member.count():
                member = grown
                break
            member = grown
        assigned = _accumulate(assigned, member)
        rem_nodes = rem_nodes.join(member, "node", "left_anti").localCheckpoint(
            eager=True
        )
        rem_edges = (
            rem_edges.join(
                member.withColumnRenamed("node", "src"), "src", "left_anti"
            )
            .join(
                member.withColumnRenamed("node", "dst"), "dst", "left_anti"
            )
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(f"scc did not converge in {max_outer} rounds")
    if assigned is None:
        return nodes.select("node", F.col("node").alias("scc_id")).filter(
            F.lit(False)
        )
    return assigned


def _dag_layers_driver(
    edge_list: list[tuple[int, int]],
) -> list[tuple[int, int]]:
    """Kahn topological order + longest-path DP on a collected edge
    list: the driver-side half of the :func:`dag_layers` hybrid.
    Raises on a cycle (leftover nodes after the peel), mirroring the
    distributed path's guard."""
    indeg: dict[int, int] = {}
    adj: dict[int, list[int]] = {}
    nodes: set[int] = set()
    for s, d in edge_list:
        adj.setdefault(s, []).append(d)
        indeg[d] = indeg.get(d, 0) + 1
        nodes.add(s)
        nodes.add(d)
    layer = {v: 0 for v in nodes}
    queue = sorted(v for v in nodes if indeg.get(v, 0) == 0)
    done = 0
    while queue:
        v = queue.pop()
        done += 1
        for w in adj.get(v, []):
            layer[w] = max(layer[w], layer[v] + 1)
            indeg[w] -= 1
            if indeg[w] == 0:
                queue.append(w)
    if done != len(nodes):
        raise RuntimeError(
            "dag_layers: input graph is cyclic "
            "(condense with scc first)"
        )
    return sorted(layer.items())


def dag_layers(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 100,
    driver_threshold: int = 10_000,
) -> DataFrame:
    """Topological LAYER numbers for a DAG: layer(v) = length of the
    longest path reaching v (sources = 0) — the level-sets of a
    dependency schedule (everything in layer k can run once layers
    < k finished). Iterative max-relaxation, the max-plus sibling of
    :func:`sssp_weighted`: per round one keyed join + max-aggregate,
    run to the FIXPOINT (exact — a DAG's longest path is finite);
    raises after ``max_rounds`` (a cycle would relax forever, so the
    guard doubles as an acyclicity check). Returns (node, layer).

    Same hybrid cutover as :func:`scc`: ≤ ``driver_threshold`` edges
    collect and resolve with Kahn + longest-path DP (cycle check
    included); both paths pinned equal in pytest."""
    e = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).distinct().localCheckpoint(eager=True)
    if e.count() <= driver_threshold:
        pairs = _dag_layers_driver(
            [(int(r["a"]), int(r["b"])) for r in e.collect()]
        )
        spark = edges.sparkSession
        if not pairs:
            return e.select(
                F.col("a").alias("node"),
                F.col("a").cast("long").alias("layer"),
            ).filter(F.lit(False))
        return spark.createDataFrame(pairs, "node long, layer long")
    layer = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("layer"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        cand = e.join(layer.withColumnRenamed("node", "a"), "a").select(
            F.col("b").alias("node"), (F.col("layer") + 1).alias("layer")
        )
        nxt = (
            layer.unionByName(cand)
            .groupBy("node")
            .agg(F.max("layer").alias("layer"))
            .localCheckpoint(eager=True)
        )
        changed = (
            nxt.join(layer.withColumnRenamed("layer", "old"), "node")
            .filter(F.col("layer") != F.col("old"))
            .count()
        )
        layer = nxt
        if changed == 0:
            return layer
    raise RuntimeError(
        f"dag_layers did not converge in {max_rounds} rounds — "
        "the input graph is probably cyclic (condense with scc first)"
    )


def multi_source_bfs(
    edges: DataFrame,
    sources: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 4,
) -> DataFrame:
    """Hop distances from EVERY source simultaneously — one BFS whose
    state is keyed (landmark, node) instead of node: per hop one
    adjacency⋈frontier join and one min-aggregate, exactly
    :func:`bfs_levels` with a composite key, so K landmarks cost the
    SAME number of rounds as one (the frontier is at most K× wider,
    and the joins stay keyed equi-joins). This is the landmark /
    pivot scheme closeness- and distance-oracle approximations use at
    scale (Indyk-style sketches): pick K ≪ n landmarks, get every
    node's distance vector in max_hops rounds. ``sources`` is a
    1-column frame ``node``; returns (lm, node, d) for reached pairs
    only."""
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = sources.select(
        F.col("node").alias("lm"),
        F.col("node"),
        F.lit(0).cast("long").alias("d"),
    ).localCheckpoint(eager=False)
    for _ in range(max_hops):
        cand = und.join(
            dist.withColumnRenamed("node", "a"), "a"
        ).select("lm", F.col("b").alias("node"), (F.col("d") + 1).alias("d"))
        dist = (
            dist.unionByName(cand)
            .groupBy("lm", "node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=False)
        )
    return dist
