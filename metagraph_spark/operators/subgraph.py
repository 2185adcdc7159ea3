"""subgraph.* — extraction, k-core, k-truss, MIS, sampling.

Reference contracts (abstract defs ``plugins/core/algorithms/subgraph.py``;
nx impls ``plugins/networkx/algorithms.py``):

- ``extract_subgraph(Graph, NodeSet) -> Graph`` (:6-8; nx :88-93): node-
  induced subgraph — double semi-join on the edge table.
- ``k_core(Graph(is_directed=False), k) -> Graph`` (:11-13; nx :95-102):
  iteratively drop nodes with degree < k until fixpoint (same loop skeleton
  as connected components).
- ``k_truss(Graph(is_directed=False), k) -> Graph`` (:16-18; nx :104-116,
  modern convention: every kept edge participates in ≥ k-2 triangles within
  the truss): iterative triangle-support filter built on the oriented
  wedge join from triangles.py.
- ``maximal_independent_set(Graph) -> NodeSet`` (:21-23; nx :118-121):
  non-deterministic in the reference; the test only checks independence +
  maximality (``tests/algorithms/test_subgraph.py:87-111``). We run Luby's
  algorithm with seeded hash priorities — deterministic given the seed.
- ``sample.node_sampling / edge_sampling / ties (Graph, p) -> Graph``
  (:31-47; nx :415-509): Bernoulli samples. node_sampling = sample nodes,
  induce edges; edge_sampling = sample edges, keep endpoint nodes;
  TIES = sample edges, then TOTALLY induce over the endpoint node set
  (Ahmed et al., totally-induced edge sampling). Seeded hash Bernoulli
  instead of ``random.random()`` so results are reproducible and
  partition-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metagraph_spark import routing
from metagraph_spark.collect import collect_edges
from metagraph_spark.exceptions import GraphPropertyError
from metagraph_spark.graph import DST, ID, SRC, WEIGHT, Graph
from metagraph_spark.state import truncate_lineage

# --- cross-engine deterministic hash ("mix31") ---------------------------
# Sampling and Luby priorities need a seeded hash that an independent SQL
# engine (the DuckDB oracle) can reproduce exactly. xxhash64 is Spark-only,
# so we use 31-bit modular multiplies + xor-shifts: every intermediate fits
# int64 (no overflow wrap, which DuckDB rejects), and both engines compute
# the identical value. Quality is ample for Bernoulli thresholds/priorities.
_P31 = 2147483647  # 2^31 - 1 (Mersenne prime)


def mix31(col, seed: int):
    """Deterministic 31-bit hash of a non-negative long column (cross-engine:
    see ``mix31_sql`` in ``__spark_entry__.py`` for the DuckDB twin)."""
    h1 = F.pmod(
        F.pmod(col.cast("long"), F.lit(_P31)) * F.lit(2654435761)
        + F.lit(int(seed)),
        F.lit(_P31),
    )
    h2 = F.pmod(
        h1.bitwiseXOR(F.shiftrightunsigned(h1, 15)) * F.lit(1597334677),
        F.lit(_P31),
    )
    return h2.bitwiseXOR(F.shiftrightunsigned(h2, 13))


def edge_key31(src_col, dst_col):
    """Single non-negative long key for an edge, cross-engine computable."""
    return F.pmod(
        F.pmod(src_col.cast("long"), F.lit(_P31)) * F.lit(8191)
        + F.pmod(dst_col.cast("long"), F.lit(_P31)),
        F.lit(_P31),
    )


def extract_subgraph(graph: Graph, nodes: DataFrame) -> Graph:
    """Node-induced subgraph; ``nodes`` is a NodeSet DataFrame ``(id)``."""
    nodes = nodes.select(ID)
    e = (
        graph.edges.join(nodes.withColumnRenamed(ID, SRC), SRC, "left_semi")
        .join(nodes.withColumnRenamed(ID, DST), DST, "left_semi")
    )
    g_nodes = (
        graph.nodes.join(nodes, ID, "left_semi") if graph.nodes is not None else nodes
    )
    return Graph(edges=e, nodes=g_nodes, is_directed=graph.is_directed)


def k_core(graph: Graph, k: int, max_rounds: int = 10_000) -> Graph:
    """Maximal subgraph where every node has degree ≥ k (undirected)."""
    if graph.is_directed:
        raise GraphPropertyError("k_core requires an undirected graph")
    edges = truncate_lineage(graph.canonical_undirected_edges())
    while max_rounds > 0:
        max_rounds -= 1
        deg = (
            edges.select(F.col(SRC).alias(ID))
            .unionAll(edges.select(F.col(DST).alias(ID)))
            .groupBy(ID)
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select(ID)
        nxt = (
            edges.join(keep.withColumnRenamed(ID, SRC), SRC, "left_semi")
            .join(keep.withColumnRenamed(ID, DST), DST, "left_semi")
        )
        nxt = truncate_lineage(nxt)
        if nxt.count() == edges.count():
            edges = nxt
            break
        edges = nxt
    nodes = (
        edges.select(F.col(SRC).alias(ID))
        .unionAll(edges.select(F.col(DST).alias(ID)))
        .distinct()
    )
    return Graph(edges=edges, nodes=nodes, is_directed=False)


def _edge_support(edges: DataFrame) -> DataFrame:
    """Triangle support per canonical undirected edge ``(src, dst, support)``.

    Uses the oriented wedge join (triangles.py plan): each triangle
    (a<b<c by id) contributes support to its three edges."""
    e = edges.select(SRC, DST)
    # id-ordered orientation is enough for support counting (a<b guaranteed
    # by canonical form)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src")) & (F.col("e3.dst") == F.col("e2.dst")),
            "left_semi",
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    sides = (
        tri.select(F.col("a").alias(SRC), F.col("b").alias(DST))
        .unionAll(tri.select(F.col("a").alias(SRC), F.col("c").alias(DST)))
        .unionAll(tri.select(F.col("b").alias(SRC), F.col("c").alias(DST)))
    )
    return sides.groupBy(SRC, DST).agg(F.count(F.lit(1)).alias("support"))


def k_truss(graph: Graph, k: int, max_rounds: int = 10_000) -> Graph:
    """Maximal subgraph where every edge participates in ≥ k-2 triangles
    (modern nx convention, see module docstring). Iterative support filter."""
    if graph.is_directed:
        raise GraphPropertyError("k_truss requires an undirected graph")
    need = k - 2
    edges = truncate_lineage(graph.canonical_undirected_edges().select(SRC, DST))
    while max_rounds > 0:
        max_rounds -= 1
        support = _edge_support(edges)
        kept = (
            edges.join(support, [SRC, DST], "left")
            .filter(F.coalesce("support", F.lit(0)) >= need)
            .select(SRC, DST)
        )
        kept = truncate_lineage(kept)
        if kept.count() == edges.count():
            edges = kept
            break
        edges = kept
    nodes = (
        edges.select(F.col(SRC).alias(ID))
        .unionAll(edges.select(F.col(DST).alias(ID)))
        .distinct()
    )
    return Graph(edges=edges, nodes=nodes, is_directed=False)


def maximal_independent_set(
    graph: Graph, seed: int = 42, max_rounds: int = 200
) -> DataFrame:
    """Luby's algorithm with seeded hash priorities → NodeSet ``(id)``.

    Each round: a node joins the MIS iff its priority beats every remaining
    neighbor's; MIS members and their neighbors leave the residual graph.
    O(log V) rounds w.h.p.; deterministic given the seed."""
    sym = Graph(
        edges=graph.canonical_undirected_edges().select(SRC, DST),
        is_directed=False,
    ).symmetrized()
    sym = truncate_lineage(sym.filter(F.col(SRC) != F.col(DST)))
    remaining = truncate_lineage(graph.node_ids())
    spark = graph.edges.sparkSession
    mis = spark.createDataFrame([], "id long")
    for rnd in range(max_rounds):
        if remaining.isEmpty():
            break
        # cross-engine hash so the DuckDB oracle can replay the exact rounds
        prio = mix31(F.col(ID), seed + rnd)
        cand = remaining.select(ID, prio.alias("p"))
        edges_r = (
            sym.join(cand.withColumnRenamed(ID, SRC).withColumnRenamed("p", "ps"), SRC)
            .join(cand.withColumnRenamed(ID, DST).withColumnRenamed("p", "pd"), DST)
        )
        # a node loses if any neighbor has (higher priority, or equal and larger id)
        beaten = edges_r.filter(
            (F.col("pd") > F.col("ps"))
            | ((F.col("pd") == F.col("ps")) & (F.col(DST) > F.col(SRC)))
        ).select(F.col(SRC).alias(ID)).distinct()
        winners = truncate_lineage(cand.select(ID).join(beaten, ID, "left_anti"))
        mis = truncate_lineage(mis.unionAll(winners))
        nbrs = (
            sym.join(winners.withColumnRenamed(ID, SRC), SRC, "left_semi")
            .select(F.col(DST).alias(ID))
            .distinct()
        )
        remaining = truncate_lineage(
            remaining.join(winners.unionAll(nbrs), ID, "left_anti")
        )
        sym = truncate_lineage(
            sym.join(remaining.withColumnRenamed(ID, SRC), SRC, "left_semi")
            .join(remaining.withColumnRenamed(ID, DST), DST, "left_semi")
        )
    return mis


_SALT31 = {"node": 101, "edge": 202, "ties": 303}


def _bernoulli(col, p: float, seed: int, salt: str):
    """Deterministic Bernoulli(p) from a cross-engine hash of the key
    columns (mix31 — replayable by the DuckDB oracle, see module head)."""
    if len(col) == 1:
        key = col[0].cast("long")
    else:
        key = edge_key31(col[0], col[1])
    h = F.pmod(mix31(key, seed + _SALT31[salt]), F.lit(1_000_000))
    return (h.cast("double") + 0.5) / 1_000_000.0 < p


def node_sampling(graph: Graph, p: float = 0.20, seed: int = 42) -> Graph:
    """Bernoulli node sample + induced edges (nx :415-451)."""
    if not 0 < p <= 1:
        raise ValueError(f"Probability `p` must be between 0 and 1, found {p}")
    ns = graph.node_ids().filter(_bernoulli([F.col(ID)], p, seed, "node"))
    return extract_subgraph(graph, ns)


def edge_sampling(graph: Graph, p: float = 0.20, seed: int = 42) -> Graph:
    """Bernoulli edge sample; nodes = endpoints of kept edges (nx :453-478)."""
    if not 0 < p <= 1:
        raise ValueError(f"Probability `p` must be between 0 and 1, found {p}")
    es = graph.edges.filter(
        _bernoulli([F.col(SRC), F.col(DST)], p, seed, "edge")
    )
    nodes = (
        es.select(F.col(SRC).alias(ID)).unionAll(es.select(F.col(DST).alias(ID)))
    ).distinct()
    return Graph(edges=es, nodes=nodes, is_directed=graph.is_directed)


def totally_induced_edge_sampling(
    graph: Graph, p: float = 0.20, seed: int = 42
) -> Graph:
    """TIES (nx :480-509; Ahmed et al.): Bernoulli edge sample → take the
    endpoint node set → return the TOTALLY induced subgraph over it."""
    if not 0 < p <= 1:
        raise ValueError(f"Probability `p` must be between 0 and 1, found {p}")
    es = graph.edges.filter(
        _bernoulli([F.col(SRC), F.col(DST)], p, seed, "ties")
    )
    nodes = (
        es.select(F.col(SRC).alias(ID)).unionAll(es.select(F.col(DST).alias(ID)))
    ).distinct()
    return extract_subgraph(graph, nodes)


def random_walk_sampling(
    graph: Graph,
    num_walks: int = 8,
    num_steps: int = 10,
    jump_probability: float = 0.15,
    start_node: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """subgraph.sample.random_walk, distributed analog: ``num_walks``
    PARALLEL seeded walks of ``num_steps`` steps each; returns the visited
    edge rows ``(walk_id, step, src, dst)``.

    Reference (nx :511-581) runs ONE sequential walk with
    ``jump_probability`` resets; a single walk is inherently sequential, so
    the distributed form runs many walks at once — each walk replicates the
    per-step semantics (reset w.p. p, else uniform random neighbor; dead
    ends reset). All randomness is mix31-derived from (walk_id, step), so
    runs are deterministic, partition-independent, and replayable by the
    DuckDB oracle. Each step is one join of the walker state (W rows)
    against the indexed edge table — W·steps total work, no driver loop
    over edges.

    Pass the result to :func:`extract_subgraph`/``util.graph.build`` to get
    the sampled Graph (endpoint-induced), mirroring the reference's
    returned visited-subgraph."""
    if not 0 < jump_probability <= 1:
        raise ValueError(
            f"`jump_probability` must be between 0 and 1, found {jump_probability}"
        )
    spark = graph.edges.sparkSession
    from pyspark.sql import Window

    # neighbor index: rn-th out-neighbor of src (deterministic order by dst);
    # undirected graphs walk both directions (symmetrized)
    ie = truncate_lineage(
        graph.symmetrized().select(SRC, DST)
        .distinct()
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy(SRC).orderBy(DST))
        )
    )
    deg = ie.groupBy(F.col(SRC).alias("cur")).agg(F.max("rn").alias("outdeg"))
    walks = spark.range(num_walks).select(F.col("id").alias("walk_id"))
    if start_node is not None:
        starts = walks.select("walk_id", F.lit(int(start_node)).alias("start"))
    else:
        n = graph.num_nodes()
        idx_nodes = graph.node_ids().withColumn(
            "nrn", F.row_number().over(Window.orderBy(ID))
        )
        pick = walks.select(
            "walk_id",
            (F.pmod(mix31(F.col("walk_id"), seed + 404), F.lit(n)) + 1).alias(
                "nrn"
            ),
        )
        starts = pick.join(idx_nodes, "nrn").select(
            "walk_id", F.col(ID).alias("start")
        )
    state = truncate_lineage(
        starts.select("walk_id", "start", F.col("start").alias("cur"))
    )
    visited = []
    for k in range(num_steps):
        key = edge_key31(F.col("walk_id") * F.lit(num_steps) + F.lit(k), F.col("cur"))
        u = (
            F.pmod(mix31(key, seed + 505), F.lit(1_000_000)).cast("double")
            + 0.5
        ) / 1_000_000.0
        st = state.join(deg, "cur", "left").select(
            "walk_id",
            "start",
            "cur",
            "outdeg",
            (u < jump_probability).alias("_jump"),
            F.pmod(
                mix31(
                    edge_key31(
                        F.col("walk_id") * F.lit(num_steps) + F.lit(k + 7919),
                        F.col("cur"),
                    ),
                    seed + 606,
                ),
                F.greatest(F.coalesce("outdeg", F.lit(1)), F.lit(1)),
            ).alias("_idx"),
        )
        moved = (
            st.filter(~F.col("_jump") & F.col("outdeg").isNotNull())
            .join(ie.select(F.col(SRC).alias("cur"), DST, "rn"), ["cur"])
            .filter(F.col("rn") == F.col("_idx") + 1)
            .select(
                "walk_id",
                "start",
                F.col("cur").alias(SRC),
                F.col(DST).alias("nxt"),
            )
        )
        visited.append(
            moved.select(
                "walk_id",
                F.lit(k).alias("step"),
                F.col(SRC),
                F.col("nxt").alias(DST),
            )
        )
        resets = st.filter(
            F.col("_jump") | F.col("outdeg").isNull()
        ).select("walk_id", "start", F.col("start").alias("cur"))
        state = truncate_lineage(
            moved.select(
                "walk_id", "start", F.col("nxt").alias("cur")
            ).unionAll(resets)
        )
    out = visited[0]
    for v in visited[1:]:
        out = out.unionAll(v)
    return out


# --------------------------------------------------------------------------
# subgraph.subisomorphic (``plugins/core/algorithms/subgraph.py:26-28``) —
# the reference ships NO concrete implementation (its test,
# ``tests/algorithms/test_subgraph.py:114-176``, skips); we implement the
# contract anyway. Subgraph isomorphism is NP-hard, so this is a HYBRID:
# the candidate screen is distributed (degree-dominance semi-joins shrink
# the target to nodes that could match the pattern's weakest node), then a
# VF2-style backtracking search runs on the driver over the screened
# region, guarded by ``max_edges``. Semantics: INDUCED subgraph
# isomorphism (the fixtures are relabeled induced subgraphs; nx's
# DiGraphMatcher.subgraph_is_isomorphic analog).


def _neighbor_sets(graph: Graph, directed: bool):
    """The one driver collect of ``graph`` -> (nodes, successors,
    predecessors) dict-of-sets over positions (nodes: every node)."""
    e = collect_edges(graph, "raw")
    nodes, succ, pred = set(range(len(e.ids))), {}, {}
    for s, d in zip(e.src.tolist(), e.dst.tolist()):
        succ.setdefault(s, set()).add(d)
        pred.setdefault(d, set()).add(s)
        if not directed:
            succ.setdefault(d, set()).add(s)
            pred.setdefault(s, set()).add(d)
    return nodes, succ, pred


def subisomorphic(
    graph: Graph,
    pattern: Graph,
    max_edges: int = routing.SUBISO_MAX_EDGES,
    max_pattern_nodes: int = routing.SUBISO_MAX_PATTERN_NODES,
) -> bool:
    """True iff ``pattern`` is (induced-)subgraph-isomorphic to ``graph``.

    Distributed screen: target nodes below the pattern's weakest
    (out-degree, in-degree) requirements can match no pattern node, so
    they and their incident edges are dropped with one degree computation
    + semi-join BEFORE anything is collected — at 100-TB scale this is the
    part that runs on the cluster, and it alone resolves most negative
    queries (empty screen => False with no driver work). The exact
    backtracking then runs on the driver over the screened region, refusing
    loudly past ``max_edges``."""
    if graph.is_directed != pattern.is_directed:
        raise GraphPropertyError(
            "subisomorphic requires both graphs to have the same directedness"
        )
    n_pat = pattern.num_nodes()
    routing.refuse_above(
        "subisomorphic", "pattern nodes", n_pat, max_pattern_nodes,
        " — backtracking is exponential in pattern size")
    # the node pre-check is safe on raw counts; the EDGE pre-check must
    # compare like with like — the search dedups edge rows (and the engine
    # tolerates duplicate edges elsewhere), so a pattern with duplicated
    # rows must not be falsely rejected on its raw row count (ADVICE r5).
    # Raw counts can only over-count, so only re-count (distinct) when the
    # raw comparison would reject.
    if n_pat > graph.num_nodes():
        return False
    if pattern.num_edges() > graph.num_edges():
        p_distinct = pattern.edges.select(SRC, DST).distinct().count()
        if p_distinct > graph.edges.select(SRC, DST).distinct().count():
            return False
    directed = graph.is_directed
    p_nodes, p_succ, p_pred = _neighbor_sets(pattern, directed)
    min_out = min(len(p_succ.get(u, ())) for u in p_nodes)
    min_in = min(len(p_pred.get(u, ())) for u in p_nodes)

    # distributed degree screen: one groupBy per direction + semi-joins
    e = graph.edges.select(SRC, DST).distinct() if directed else (
        graph.symmetrized().select(SRC, DST).distinct()
    )
    outd = e.groupBy(F.col(SRC).alias(ID)).agg(F.count(F.lit(1)).alias("_o"))
    ind = e.groupBy(F.col(DST).alias(ID)).agg(F.count(F.lit(1)).alias("_i"))
    keep = (
        outd.join(ind, ID, "outer")
        .fillna(0, ["_o", "_i"])
        .filter((F.col("_o") >= min_out) & (F.col("_i") >= min_in))
        .select(ID)
    )
    screened = (
        e.join(keep.select(F.col(ID).alias(SRC)), SRC, "left_semi")
        .join(keep.select(F.col(ID).alias(DST)), DST, "left_semi")
    )
    routing.refuse_above(
        "subisomorphic", "screened edge rows", screened.count(), max_edges,
        " — a driver search; raise max_edges or tighten the pattern")
    t_nodes, t_succ, t_pred = _neighbor_sets(Graph(edges=screened), True)

    # Isolated (degree-0) pattern nodes: under INDUCED semantics they need
    # images with no edges to any other image. Target nodes with no edges
    # at all always qualify and are interchangeable, so satisfy as many
    # isolated pattern nodes as possible by COUNTING zero-edge target nodes
    # (never collected); any remainder joins the backtracking over edge-
    # endpoint candidates, where _consistent enforces non-adjacency.
    p_iso = sorted(u for u in p_nodes if u not in p_succ and u not in p_pred)
    if p_iso:
        n_zero = graph.num_nodes() - (
            e.select(F.col(SRC).alias(ID))
            .unionAll(e.select(F.col(DST).alias(ID)))
            .distinct()
            .count()
        )
        search_nodes = set(p_nodes) - set(p_iso[: max(0, min(len(p_iso), n_zero))])
    else:
        search_nodes = set(p_nodes)
    if not search_nodes:
        return True

    # per-pattern-node candidates by degree dominance (+ self-loop need)
    cand = {}
    for u in sorted(search_nodes):
        po, pi = len(p_succ.get(u, ())), len(p_pred.get(u, ()))
        p_self = u in p_succ.get(u, ())
        cs = [
            v
            for v in t_nodes
            if len(t_succ.get(v, ())) >= po
            and len(t_pred.get(v, ())) >= pi
            # induced: self-loop presence must match EXACTLY, not dominate
            and (v in t_succ.get(v, ())) == p_self
        ]
        if not cs:
            return False
        cand[u] = cs

    # most-constrained-first: fewest candidates, then highest degree
    order = sorted(
        search_nodes,
        key=lambda u: (
            len(cand[u]),
            -(len(p_succ.get(u, ())) + len(p_pred.get(u, ()))),
        ),
    )
    mapping: dict = {}
    used: set = set()

    def _consistent(u, v) -> bool:
        # induced: relations to every already-mapped node must match exactly
        for w, x in mapping.items():
            if (w in p_succ.get(u, ())) != (x in t_succ.get(v, ())):
                return False
            if (w in p_pred.get(u, ())) != (x in t_pred.get(v, ())):
                return False
        return True

    def _bt(i: int) -> bool:
        if i == len(order):
            return True
        u = order[i]
        for v in cand[u]:
            if v in used or not _consistent(u, v):
                continue
            mapping[u] = v
            used.add(v)
            if _bt(i + 1):
                return True
            del mapping[u]
            used.discard(v)
        return False

    return _bt(0)


def graph_isomorphic(
    g1: Graph, g2: Graph, max_edges: int = routing.SUBISO_MAX_EDGES
) -> bool:
    """``util.graph.isomorphic`` (``plugins/core/algorithms/utility.py:120-
    122``, no concrete impl in the reference) — EXACT for graphs whose
    screened size fits the driver kernel: equal |V|/|E|/degree-histogram
    invariants (distributed, cheap, resolves most negatives), then induced
    sub-isomorphism of g2 in g1 — with equal node and edge counts an
    induced embedding IS an isomorphism. Pattern-size guard: |V| must fit
    ``routing.SUBISO_MAX_PATTERN_NODES`` for the exact phase."""
    from metagraph_spark.operators.utility import graph_isomorphic_quick_reject

    if not graph_isomorphic_quick_reject(g1, g2):
        return False
    return subisomorphic(g1, g2, max_edges=max_edges)
