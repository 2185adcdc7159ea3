"""traversal.* — BFS, Bellman-Ford/Dijkstra (SSSP), minimum spanning tree,
plus DFS and A* as guarded driver kernels.

Reference contracts (abstract defs ``plugins/core/algorithms/traversal.py``):

- ``bfs_iter(Graph, source_node, depth_limit=-1) -> Vector`` (:22-30): node
  ids in BFS visit order. The golden test's order equals (depth asc, id asc)
  — ``tests/algorithms/test_traversal.py:45-92`` expects [0,3,4,5,6,2,7] —
  which is exactly what a frontier-parallel BFS yields with an id tie-break,
  so that's our documented order.
- ``bfs_tree(Graph, source_node, depth_limit=-1) -> (NodeMap depth, NodeMap
  parent)`` (:33-38): parent tie-break = smallest parent id at the minimal
  depth (nx impl ``plugins/networkx/algorithms.py:226-265``).
- ``bellman_ford(Graph(edge_type=map), source) -> (NodeMap parents, NodeMap
  distance)`` (:6-11); ``dijkstra(Graph(no negative weights), source)``
  (:55-63) — same outputs; the distributed physical plan for both is
  iterative relaxation (delta-stepping is out of scope), so dijkstra
  delegates to bellman_ford after a non-negativity check. Golden parities:
  ``test_traversal.py:277-345``.
- ``minimum_spanning_tree(Graph(is_directed=False, edge_type=map)) -> Graph``
  (:66-72): forest when disconnected (``test_traversal.py:347-432``).
  Physical plan: Borůvka — per-component minimum outgoing edge (join +
  groupBy-min with deterministic tie-break), contract via hash-min CC labels,
  repeat; O(log V) rounds, each a join+agg.

All loops materialize per-superstep state with lineage truncation; no Python
row functions anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metagraph_spark import routing
from metagraph_spark.collect import collect_edges, position, sort_by
from metagraph_spark.exceptions import ConvergenceError, GraphPropertyError
from metagraph_spark.graph import DST, ID, SRC, WEIGHT, Graph
from metagraph_spark.state import truncate_lineage


def bfs_tree(
    graph: Graph, source_node: int, depth_limit: int = -1
) -> tuple[DataFrame, DataFrame]:
    """Return ``(depths, parents)``: NodeMaps ``(id, depth)`` and
    ``(id, parent)`` over reachable nodes; source's parent is itself."""
    n_part = int(graph.edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    edges = (
        graph.symmetrized().select(SRC, DST).repartition(n_part, SRC).persist()
    )
    if depth_limit < 0:
        depth_limit = 2_000_000_000
    visited = truncate_lineage(
        graph.edges.sparkSession.createDataFrame(
            [(int(source_node), 0, int(source_node))], "id long, depth int, parent long"
        )
    )
    frontier = visited.select(ID)
    depth = 0
    while depth < depth_limit:
        depth += 1
        nxt = (
            edges.join(
                frontier.withColumnRenamed(ID, SRC).hint("shuffle_hash"), SRC
            )
            .select(F.col(DST).alias(ID), F.col(SRC).alias("parent"))
            .groupBy(ID)
            .agg(F.min("parent").alias("parent"))
            .join(visited.select(ID), ID, "left_anti")
            .select(ID, F.lit(depth).alias("depth"), "parent")
        )
        nxt = truncate_lineage(nxt)
        if nxt.isEmpty():
            break
        visited = truncate_lineage(visited.unionAll(nxt))
        frontier = nxt.select(ID)
    edges.unpersist()
    return visited.select(ID, "depth"), visited.select(ID, "parent")


def bfs_iter(graph: Graph, source_node: int, depth_limit: int = -1) -> DataFrame:
    """BFS visit order as ``(pos, id)`` rows — the Vector return re-expressed
    as an ordered DataFrame; order = (depth asc, id asc)."""
    depths, _ = bfs_tree(graph, source_node, depth_limit)
    from pyspark.sql import Window

    w = Window.orderBy("depth", ID)
    return depths.select(
        (F.row_number().over(w) - 1).alias("pos"), ID
    )


def bellman_ford(
    graph: Graph, source_node: int, max_rounds: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Return ``(parents, distances)`` NodeMaps over reachable nodes.

    Iterative relaxation: ``dist'[v] = min(dist[v], min_{(u,v)} dist[u]+w)``;
    parent = argmin with (distance, parent-id) tie-break. Converges in at
    most |V|-1 rounds; a further improving round means a negative cycle
    (raises ConvergenceError, mirroring nx's NetworkXUnbounded surface)."""
    if not graph.is_weighted:
        raise GraphPropertyError("bellman_ford requires edge weights")
    spark = graph.edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # SRC-partitioned persist + vertex-side hash build: the relaxation join
    # then reuses the cached layout and never re-sorts/re-shuffles |E| rows
    # per round (same measurement as operators/pagerank.py)
    edges = (
        graph.symmetrized()
        .select(SRC, DST, WEIGHT)
        .repartition(n_part, SRC)
        .persist()
    )
    state = truncate_lineage(
        spark.createDataFrame(
            [(int(source_node), 0.0, int(source_node))],
            "id long, dist double, parent long",
        )
    )
    limit = max_rounds if max_rounds is not None else graph.num_nodes() + 1
    for rnd in range(limit):
        cand = (
            edges.join(
                state.select(
                    F.col(ID).alias(SRC), F.col("dist").alias("_d")
                ).hint("shuffle_hash"),
                SRC,
            )
            .select(
                F.col(DST).alias(ID),
                (F.col("_d") + F.col(WEIGHT)).alias("dist"),
                F.col(SRC).alias("parent"),
            )
        )
        merged = (
            state.unionAll(cand)
            .groupBy(ID)
            .agg(F.min(F.struct("dist", "parent")).alias("best"))
            .select(ID, F.col("best.dist").alias("dist"), F.col("best.parent").alias("parent"))
        )
        merged = truncate_lineage(merged)
        # converged when no distance improved
        improved = (
            merged.join(
                state.select(ID, F.col("dist").alias("_old")), ID, "left"
            )
            .filter(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .count()
        )
        state.unpersist()
        state = merged
        if improved == 0:
            edges.unpersist()
            return state.select(ID, "parent"), state.select(ID, "dist")
    edges.unpersist()
    raise ConvergenceError(
        "bellman_ford did not converge — negative cycle reachable from source"
    )


def dijkstra(
    graph: Graph, source_node: int
) -> tuple[DataFrame, DataFrame]:
    """Same outputs as bellman_ford; requires non-negative weights
    (``traversal.py:55-63``). Distributed physical plan = relaxation."""
    if graph.has_negative_weights():
        raise GraphPropertyError("dijkstra requires non-negative edge weights")
    return bellman_ford(graph, source_node)


def minimum_spanning_tree(graph: Graph, max_rounds: int = 64) -> Graph:
    """Borůvka MST/forest. Returns an undirected Graph whose edges are the
    chosen tree edges with their original weights (canonical orientation).

    Each round: every current component picks its minimum-weight outgoing
    edge (ties broken on (weight, src, dst) for determinism — distinct edge
    weights in the reference fixtures make this exact), components merge via
    hash-min CC on the chosen edges. O(log V) rounds."""
    if graph.is_directed:
        raise GraphPropertyError("minimum_spanning_tree requires an undirected graph")
    if not graph.is_weighted:
        raise GraphPropertyError("minimum_spanning_tree requires edge weights")
    from metagraph_spark.operators.components import connected_components

    canon = truncate_lineage(graph.canonical_undirected_edges())
    # component label per node, updated per round
    comp = truncate_lineage(
        graph.node_ids().select(ID, F.col(ID).alias("comp"))
    )
    chosen = None
    for _ in range(max_rounds):
        lab_s = comp.select(F.col(ID).alias(SRC), F.col("comp").alias("_cs"))
        lab_d = comp.select(F.col(ID).alias(DST), F.col("comp").alias("_cd"))
        cross = (
            canon.join(lab_s, SRC)
            .join(lab_d, DST)
            .filter(F.col("_cs") != F.col("_cd"))
        )
        if cross.isEmpty():
            break
        # min outgoing edge per component (both endpoints' components vote)
        cand = cross.select(
            F.col("_cs").alias("comp"), SRC, DST, WEIGHT
        ).unionAll(cross.select(F.col("_cd").alias("comp"), SRC, DST, WEIGHT))
        picks = (
            cand.groupBy("comp")
            .agg(F.min(F.struct(WEIGHT, SRC, DST)).alias("e"))
            .select(
                F.col(f"e.{SRC}").alias(SRC),
                F.col(f"e.{DST}").alias(DST),
                F.col(f"e.{WEIGHT}").alias(WEIGHT),
            )
            .distinct()
        )
        picks = truncate_lineage(picks)
        chosen = picks if chosen is None else truncate_lineage(
            chosen.unionAll(picks).distinct()
        )
        # merge components: CC over the chosen edges so far
        cc = connected_components(
            Graph(edges=chosen.select(SRC, DST), nodes=graph.node_ids(),
                  is_directed=False)
        )
        comp = truncate_lineage(cc.withColumnRenamed("label", "comp"))
    spark = graph.edges.sparkSession
    if chosen is None:
        chosen = spark.createDataFrame([], "src long, dst long, weight double")
    return Graph(edges=chosen, nodes=graph.node_ids(), is_directed=False)


# --------------------------------------------------------------------------
# Sequential traversals — DRIVER KERNELS (same scope decision as flow.py:
# the visit order of DFS / the expansion order of A* depends on every prior
# step, so no frontier-parallel plan exists; the reference's own concrete
# impls are single-threaded networkx/scipy). The one driver collect
# assembles a positional CSR sorted by (src, dst) — ascending-id neighbor
# preference is the documented deterministic tie-break — the walk runs in
# numpy/python on the driver, and only the O(V) result table goes back to
# Spark. A ``max_edges`` guard refuses graphs outside this scope instead
# of OOMing.


def _driver_csr(graph: Graph, max_edges: int, op: str, weights: bool):
    """One driver collect -> (node_arr, indptr, nbr_pos, w or None).

    Adjacency is ascending-dst within each source (the tie-break every
    driver-kernel traversal documents). Directed graphs keep out-edges
    only (nx semantics on DiGraph); undirected graphs are symmetrized.
    """
    routing.refuse_above(
        op, "edge rows", routing.driver_edge_rows(graph, "sym"), max_edges,
        " — a driver kernel (inherently sequential visit order); raise "
        "max_edges to allow it")
    e = collect_edges(graph, "sym", weights)
    n = len(e.ids)
    by_dst, _ = sort_by(e.dst, n)
    by_src, indptr = sort_by(e.src[by_dst], n)
    order = by_dst[by_src]
    return e.ids, indptr, e.dst[order], None if e.w is None else e.w[order]


def _dfs_kernel(graph: Graph, source_node: int, max_edges: int):
    """Iterative preorder DFS with ascending-id neighbor preference.
    Returns (node_arr, order_positions, parent_positions)."""
    import numpy as np

    node_arr, indptr, nbr, _ = _driver_csr(graph, max_edges, "dfs", False)
    s = position(node_arr, source_node, "source")
    n = len(node_arr)
    seen = np.zeros(n, dtype=bool)
    parent = np.full(n, -1, dtype=np.int64)
    order = []
    stack = [(s, s)]
    while stack:
        node, par = stack.pop()
        if seen[node]:
            continue
        seen[node] = True
        parent[node] = par
        order.append(node)
        # push reversed so the smallest neighbor id pops first (preorder
        # follows ascending ids — matches the documented tie-break and the
        # reference goldens, tests/algorithms/test_traversal.py:188-275)
        for j in range(indptr[node + 1] - 1, indptr[node] - 1, -1):
            nb = nbr[j]
            if not seen[nb]:
                stack.append((int(nb), node))
    return node_arr, order, parent


def dfs_iter(
    graph: Graph, source_node: int,
    max_edges: int = routing.SEQUENTIAL_MAX_EDGES,
) -> DataFrame:
    """``traversal.dfs_iter`` (``plugins/core/algorithms/traversal.py:41-44``;
    nx impl ``plugins/networkx/algorithms.py:267-274``): node ids in DFS
    preorder from ``source_node`` as ``(pos, id)`` rows — same output shape
    as ``bfs_iter``. Golden: ``tests/algorithms/test_traversal.py:188-226``."""
    node_arr, order, _ = _dfs_kernel(graph, source_node, max_edges)
    spark = graph.edges.sparkSession
    return spark.createDataFrame(
        [(i, int(node_arr[p])) for i, p in enumerate(order)], "pos int, id long"
    )


def dfs_tree(
    graph: Graph, source_node: int,
    max_edges: int = routing.SEQUENTIAL_MAX_EDGES,
) -> DataFrame:
    """``traversal.dfs_tree`` (``traversal.py:47-51``; nx impl
    ``networkx/algorithms.py:276-282``): NodeMap ``(id, parent)`` over nodes
    reachable from ``source_node``; the source's parent is itself. Golden:
    ``tests/algorithms/test_traversal.py:228-275``."""
    node_arr, order, parent = _dfs_kernel(graph, source_node, max_edges)
    spark = graph.edges.sparkSession
    return spark.createDataFrame(
        [(int(node_arr[p]), int(node_arr[parent[p]])) for p in order],
        "id long, parent long",
    )


def astar_search(
    graph: Graph,
    source_node: int,
    target_node: int,
    heuristic_func,
    max_edges: int = routing.SEQUENTIAL_MAX_EDGES,
) -> DataFrame:
    """``traversal.astar_search`` (``traversal.py:75-87``; nx impl
    ``networkx/algorithms.py:583-600``): A* path from source to target as
    ``(pos, id)`` rows. ``heuristic_func(node_id) -> float`` estimates the
    remaining distance to the target. Unweighted graphs use unit weights.

    Deterministic tie-breaks: equal-f entries pop in ascending node id;
    neighbors relax in ascending id. Matches the reference grid golden
    (``tests/algorithms/test_traversal.py:434-493``) exactly.
    """
    import heapq

    import numpy as np

    node_arr, indptr, nbr, w = _driver_csr(
        graph, max_edges, "astar_search", graph.is_weighted
    )
    s = position(node_arr, source_node, "source")
    t = position(node_arr, target_node, "target")
    n = len(node_arr)
    g = np.full(n, np.inf, dtype=np.float64)
    parent = np.full(n, -1, dtype=np.int64)
    g[s] = 0.0
    parent[s] = s
    pq = [(float(heuristic_func(int(node_arr[s]))), s, 0.0)]
    path = None
    while pq:
        _, node, gp = heapq.heappop(pq)
        if node == t:
            rev = [node]
            while node != s:
                node = int(parent[node])
                rev.append(node)
            path = rev[::-1]
            break
        # lazy-deletion stale check (mirrors nx.astar_path): an entry is
        # dead only if a CHEAPER g for this node has been found since it
        # was pushed — a settled node whose g later improves (legal under
        # an admissible-but-INCONSISTENT heuristic) is re-expanded, where
        # a done[] flag would silently leave its successors unrelaxed
        if gp > g[node]:
            continue
        gn = g[node]
        for j in range(indptr[node], indptr[node + 1]):
            nb = int(nbr[j])
            ng = gn + (w[j] if w is not None else 1.0)
            if ng < g[nb]:
                g[nb] = ng
                parent[nb] = node
                heapq.heappush(
                    pq,
                    (ng + float(heuristic_func(int(node_arr[nb]))), nb, ng),
                )
    if path is None:
        raise ValueError(
            f"no path from {source_node} to {target_node}"
        )
    spark = graph.edges.sparkSession
    return spark.createDataFrame(
        [(i, int(node_arr[p])) for i, p in enumerate(path)], "pos int, id long"
    )
