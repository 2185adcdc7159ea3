"""The one routing policy: every size cap and every route rule.

Reference analog: metagraph's Resolver picks the concrete algorithm in one
place from the argument's properties (``core/resolver.py:342-363``); here
every physical-route choice reads measured sizes against the caps below.

One size definition guards driver memory: the EDGE ROWS the driver holds
after symmetrization (:func:`driver_edge_rows`, from the cached
``num_edges()`` — no extra Spark job). :data:`KERNEL_AUTO_MAX_EDGES` is
the one edge cap that bounds something else (the layout shuffle), and
counts raw ``num_edges()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metagraph_spark.exceptions import GraphPropertyError
from metagraph_spark.graph import DST, ID, SRC

# Driver kernels (the superstep engine's driver executor, the HOPE driver
# pipeline, the triangle driver layout) run on the driver over one Arrow
# collect at or below this many edge rows. At bench scale the
# per-superstep Spark job floor (~0.2-0.3 s: task scheduling + Arrow result
# assembly, measured on the 100-superstep katz kernel row) dwarfs the
# gather itself (~10 ms at 1.2M edges); ~16 B/row of driver memory, 80 MB
# at the cap.
DRIVER_MAX_EDGES = 5_000_000

# ... and the dense driver vectors the driver executor iterates stay
# reasonable for sparse many-vertex graphs too (8 B x V per vector).
DRIVER_MAX_VERTICES = 20_000_000

# Above the driver caps, FILE-BACKED layouts below this vertex count still
# take the broadcast executor (tasks gather over the mmap'd blocks, the
# driver applies): the slice-store executor's per-superstep fixed costs
# (slice-file create/write/flush, per-pass jump jobs for CC) outweigh the
# n*8 B driver vectors it avoids — 16 MB at this cap. Measured on a
# file-backed Zipf layout (6M edges, 120k vertices, 4 blocks, local[4],
# 4-core host; medians of 3-4 interleaved trials, broadcast vs slice store):
# PageRank 10 supersteps 4.88 s vs 5.15 s, converged CC 1.28 s vs 2.37 s,
# LPA 3 rounds 2.76 s vs 2.75 s. Above it the O(V)-per-superstep driver
# collect + broadcast IS the bottleneck.
SLICE_STORE_MIN_VERTICES = 2_000_000

# strategy="auto" takes the kernel only up to this vertex count: the
# in-memory layouts hold dense id/degree arrays on the driver. The
# file-backed kernel (``kernel_spill_dir``) has no such cap — measured at
# 10^8 vertices / 2·10^8 edges: driver max-RSS 0.14 GB (BENCH/BASELINE.md).
KERNEL_MAX_VERTICES = 50_000_000

# strategy="auto" also caps the RAW edge count (``num_edges()``): this
# bounds the kernel's one-time layout shuffle + per-block pack (measured
# 131.9 s at 100M edges, BENCH_r04 extras.big_cc_kernel_layout_sec), which
# a single converged run cannot amortize, while the join path starts
# iterating immediately on the src-partitioned edge cache. Callers who do
# amortize the layout prebuild blocks or pass ``kernel_spill_dir``. The
# PageRank join path's broadcast superstep (a dst-keyed re-layout of the
# edge cache) takes the same raw-edge bound.
KERNEL_AUTO_MAX_EDGES = 20_000_000

# Join-path supersteps broadcast the |V|-row vertex state (PageRank
# contributions, katz state, LPA labels) up to this vertex count: ~16 B/row
# plus framing, ~0.5 GB at the cap, held once per executor (guide §3.1).
# Above it the shuffled superstep plans keep AQE's skew/coalesce freedoms.
BROADCAST_MAX_VERTICES = 16_000_000

# HOPE broadcasts its |V|·r superstep state up to this many values
# (~8 B/value plus framing, ~200 MB at the cap).
HOPE_BROADCAST_MAX_VALUES = 25_000_000

# The triangle kernel's rank-space keys ra*n + rb are int64: n < 2^31.
TRI_KERNEL_MAX_NODES = 2**31 - 1

# Converged join-path CC: at or above this raw edge count two-phase
# large-star/small-star (O(log V) rounds on a shrinking edge set) beats
# hash-min + pointer jumping (one |E|-row join per round) — measured:
# two-phase cost transcript_cc 4.1->7.3 s / copurchase_cc 3.4->5.5 s at
# sub-1M edges while winning 4x at 100M edges (BENCH r3 vs r4).
TWO_PHASE_MIN_EDGES = 5_000_000

# Inherently sequential driver kernels (dfs/A* visit order, max-flow
# augmenting paths) refuse graphs above this many edge rows instead of
# OOMing the driver.
SEQUENTIAL_MAX_EDGES = 10_000_000

# The betweenness kernel broadcasts the whole adjacency to every task.
BETWEENNESS_MAX_EDGES = 50_000_000

# Full closeness is all-pairs: S·V relaxation state rows.
CLOSENESS_ALL_NODES_LIMIT = 100_000

# Subgraph isomorphism backtracks on the driver: exponential in the
# pattern, and the screened target region is held as Python sets.
SUBISO_MAX_PATTERN_NODES = 16
SUBISO_MAX_EDGES = 1_000_000

# Above this query count the vectorized cosine scorer's driver-collected
# query matrix stops being reasonable; the crossJoin plan streams both
# sides instead.
BRUTEFORCE_VECTORIZED_MAX_QUERIES = 20_000


def driver_edge_rows(graph, mode: str) -> int:
    """Edge rows the driver holds for ``graph`` collected in ``mode`` (see
    :mod:`metagraph_spark.collect`): the row count AFTER symmetrization (an
    upper bound for the dedup and self-loop-dropping modes), from the
    cached ``num_edges()``."""
    e = graph.num_edges()
    two_way = mode in ("raw_sym", "canonical_sym") or (
        mode == "sym" and not graph.is_directed)
    return 2 * e if two_way else e


def vertex_count(graph) -> int:
    """The vertex count the kernel caps compare: ``num_nodes()``, except
    for a graph with no explicit node table and no cached count, where the
    endpoint bound ``2·num_edges()`` (no distinct job) decides every vertex
    cap exactly as the true count would — each is checked together with
    an edge cap at most half its size."""
    if graph.nodes is None and "num_nodes" not in graph.metadata:
        return 2 * graph.num_edges()
    return graph.num_nodes()


def fits_driver(edge_rows: int, num_vertices: int = 0) -> bool:
    """A driver kernel may hold ``edge_rows`` rows and ``num_vertices``
    vertices (both caps inclusive)."""
    return edge_rows <= DRIVER_MAX_EDGES and num_vertices <= DRIVER_MAX_VERTICES


def choose_executor(edge_rows: int, num_vertices: int, file_backed: bool,
                    slice_store: bool = False) -> str:
    """The superstep engine's executor: ``"driver"``, ``"broadcast"`` or
    ``"slice"``. ``edge_rows`` counts rows after symmetrization
    (:func:`driver_edge_rows` for a Graph, block rows for prebuilt
    blocks). Above the driver caps only file-backed layouts of at least
    :data:`SLICE_STORE_MIN_VERTICES` vertices pay the slice store's fixed
    costs. An injected slice store always wins (its caller asked for
    durable slice vectors)."""
    if slice_store:
        return "slice"
    if fits_driver(edge_rows, num_vertices):
        return "driver"
    if file_backed and num_vertices >= SLICE_STORE_MIN_VERTICES:
        return "slice"
    return "broadcast"


def use_kernel(strategy: str, graph, spill_dir: str | None = None,
               checkpointed: bool = False) -> bool:
    """The ``strategy`` rule of every iterative operator with a kernel and
    a join route: ``"kernel"`` always, ``"join"`` never; ``"auto"`` takes
    the kernel unless the run is checkpointed (only the join path keeps
    durable per-superstep state), when a file-backed layout is requested
    (``spill_dir``) or the graph is within :data:`KERNEL_MAX_VERTICES` and
    :data:`KERNEL_AUTO_MAX_EDGES`."""
    if strategy != "auto":
        return strategy == "kernel"
    return not checkpointed and (
        spill_dir is not None
        or (vertex_count(graph) <= KERNEL_MAX_VERTICES
            and graph.num_edges() <= KERNEL_AUTO_MAX_EDGES)
    )


def broadcast_state(num_vertices: int) -> bool:
    """A join-path superstep broadcasts its |V|-row vertex state."""
    return num_vertices <= BROADCAST_MAX_VERTICES


def hope_broadcast(num_vertices: int, r: int) -> bool:
    """HOPE broadcasts its |V|·r state (and may run on the driver)."""
    return num_vertices * r <= HOPE_BROADCAST_MAX_VALUES


def two_phase_cc(num_edges: int) -> bool:
    """Converged join-path CC runs two-phase large-star/small-star."""
    return num_edges >= TWO_PHASE_MIN_EDGES


def refuse_above(op: str, what: str, value: int, cap: int,
                 hint: str = "") -> None:
    """The one guard of the refusing operators: raise
    :class:`GraphPropertyError` naming ``op`` and the measured ``value``
    against ``cap`` when ``value > cap`` — called before anything is
    collected."""
    if value > cap:
        raise GraphPropertyError(
            f"{op} refuses {value} {what} > max {cap}{hint}")


def fits_int32(edges: DataFrame, nodes: DataFrame | None = None) -> bool:
    """Every id of ``edges`` (and ``nodes``) fits int32 — one
    scan-aggregate each. The join loops then run on int ids (every
    exchange and cached layout halves its bytes) and cast back exactly."""
    lo, hi = -(2**31), 2**31 - 1
    vals = [v for v in edges.agg(F.min(SRC), F.min(DST), F.max(SRC),
                                 F.max(DST)).collect()[0] if v is not None]
    if nodes is not None:
        vals += [v for v in nodes.agg(F.min(ID), F.max(ID)).collect()[0]
                 if v is not None]
    return bool(vals) and min(vals) >= lo and max(vals) <= hi
