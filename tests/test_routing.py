"""The one routing policy and the one driver collect: every route rule at
cap-1 / cap / cap+1 (called with sizes, no monkeypatching), every collect
mode against Spark's own edge set, and null ids refused."""

import numpy as np
import pytest

from metagraph_spark import routing as R
from metagraph_spark.collect import MODES, collect_edges, mode_edges, positions
from metagraph_spark.exceptions import GraphPropertyError
from metagraph_spark.graph import Graph, build
from tests.conftest import df_from_edges


def _sized(num_edges, num_nodes=None, directed=True):
    """A graph handle carrying only cached sizes (what the rules read)."""
    meta = {"num_edges": num_edges}
    if num_nodes is not None:
        meta["num_nodes"] = num_nodes
    return Graph(edges=None, is_directed=directed, metadata=meta)


def test_use_kernel_at_cap_boundaries():
    cap_v, cap_e = R.KERNEL_MAX_VERTICES, R.KERNEL_AUTO_MAX_EDGES
    for v, want in ((cap_v - 1, True), (cap_v, True), (cap_v + 1, False)):
        assert R.use_kernel("auto", _sized(10, v)) is want
    for e, want in ((cap_e - 1, True), (cap_e, True), (cap_e + 1, False)):
        assert R.use_kernel("auto", _sized(e, 10)) is want
    big = _sized(cap_e + 1, cap_v + 1)
    # a file-backed layout request takes the kernel past both caps
    assert R.use_kernel("auto", big, spill_dir="blocks") is True
    # explicit strategies ignore sizes; only the join path checkpoints
    assert R.use_kernel("kernel", big) is True
    assert R.use_kernel("join", _sized(1, 1)) is False
    assert R.use_kernel("auto", _sized(1, 1), checkpointed=True) is False
    # without a node table or a cached count the endpoint bound decides
    assert R.vertex_count(_sized(cap_e)) == 2 * cap_e
    assert R.use_kernel("auto", _sized(cap_e)) is True


def test_driver_caps_at_boundaries():
    cap_e, cap_v = R.DRIVER_MAX_EDGES, R.DRIVER_MAX_VERTICES
    for e, want in ((cap_e - 1, True), (cap_e, True), (cap_e + 1, False)):
        assert R.fits_driver(e) is want
    for v, want in ((cap_v - 1, True), (cap_v, True), (cap_v + 1, False)):
        assert R.fits_driver(10, v) is want
    # the endpoint bound never flips a driver decision: within the edge
    # cap it stays within the vertex cap for every mode
    for directed in (True, False):
        for mode in MODES:
            g = _sized(cap_e // 2, directed=directed)
            if R.fits_driver(R.driver_edge_rows(g, mode)):
                assert R.fits_driver(R.driver_edge_rows(g, mode),
                                     R.vertex_count(g))


def test_broadcast_and_two_phase_at_boundaries():
    cap_b = R.BROADCAST_MAX_VERTICES
    for v, want in ((cap_b - 1, True), (cap_b, True), (cap_b + 1, False)):
        assert R.broadcast_state(v) is want
    cap_h, r = R.HOPE_BROADCAST_MAX_VALUES, 5
    for v, want in ((cap_h // r - 1, True), (cap_h // r, True),
                    (cap_h // r + 1, False)):
        assert R.hope_broadcast(v, r) is want
    cap_t = R.TWO_PHASE_MIN_EDGES
    for e, want in ((cap_t - 1, False), (cap_t, True), (cap_t + 1, True)):
        assert R.two_phase_cc(e) is want


def test_refusal_guard_at_boundaries():
    for cap in (R.SEQUENTIAL_MAX_EDGES, R.BETWEENNESS_MAX_EDGES,
                R.SUBISO_MAX_EDGES, R.SUBISO_MAX_PATTERN_NODES,
                R.CLOSENESS_ALL_NODES_LIMIT):
        R.refuse_above("op", "edge rows", cap - 1, cap)
        R.refuse_above("op", "edge rows", cap, cap)
        with pytest.raises(GraphPropertyError, match=f"op refuses {cap + 1} "
                           f"edge rows > max {cap}"):
            R.refuse_above("op", "edge rows", cap + 1, cap)


def test_fits_int32_at_boundaries(spark):
    lo, hi = -(2**31), 2**31 - 1

    def fits(a, b, nodes=None):
        e = df_from_edges(spark, [(a, b)], weighted=False)
        nd = (None if nodes is None
              else spark.createDataFrame([(nodes,)], "id long"))
        return R.fits_int32(e, nd)

    assert fits(hi - 1, 0) and fits(hi, 0) and not fits(hi + 1, 0)
    assert fits(lo + 1, 0) and fits(lo, 0) and not fits(lo - 1, 0)
    assert fits(0, 1, nodes=hi) and not fits(0, 1, nodes=hi + 1)
    assert not R.fits_int32(spark.createDataFrame([], "src long, dst long"))


def _spark_positional(graph, mode):
    """Spark's own edge set for ``mode`` as sorted positional rows."""
    ids = np.array(sorted(r["id"] for r in graph.node_ids().collect()),
                   dtype=np.int64)
    rows = []
    for r in mode_edges(graph, mode).collect():
        rows.append((int(np.searchsorted(ids, r["src"])),
                     int(np.searchsorted(ids, r["dst"])), r["weight"]))
    return ids, sorted(rows)


@pytest.mark.parametrize("directed", [True, False])
def test_collect_modes_match_spark_edge_sets(spark, directed):
    """Every mode of the one collect equals a positional collect of the
    Spark edge set of that mode (``mode_edges``: ``symmetrized()`` /
    ``canonical_undirected_edges()`` / ...), on a graph with self-loops,
    duplicate rows (different weights), isolated nodes and weights."""
    edges = [(1, 2, 1.0), (2, 3, 2.0), (2, 3, 5.0), (3, 2, 4.0), (4, 4, 3.0),
             (1, 5, 1.5), (5, 1, 0.5), (7, 7, 1.0)]
    nodes = spark.createDataFrame([(i,) for i in (1, 9, 11)], "id long")
    g = build(df_from_edges(spark, edges), nodes=nodes, is_directed=directed)
    for mode in MODES:
        ids, want = _spark_positional(g, mode)
        got = collect_edges(g, mode, weighted=True)
        assert got.ids.tolist() == ids.tolist(), mode
        rows = sorted(zip(got.src.tolist(), got.dst.tolist(), got.w.tolist()))
        assert rows == want, mode
        assert len(got.src) <= R.driver_edge_rows(g, mode), mode
        assert collect_edges(g, mode).w is None
    # positional rows keep Spark's collect order where Spark defines one
    raw = collect_edges(g, "raw", weighted=True)
    assert [(int(raw.ids[s]), int(raw.ids[d]), w) for s, d, w
            in zip(raw.src, raw.dst, raw.w)] == [
        (r["src"], r["dst"], r["weight"]) for r in g.edges.collect()]


def test_positions_reports_missing_ids():
    ids = np.array([2, 5, 9])
    assert positions(ids, [9, 2], KeyError).tolist() == [2, 0]
    for query in ([5, 7], [10], [1]):
        with pytest.raises(KeyError):
            positions(ids, query, KeyError)
    with pytest.raises(KeyError):
        positions(ids[:0], [1], KeyError)


def test_null_endpoint_ids_raise(spark):
    """A null endpoint id is refused by the one collect — HOPE used to emit
    a phantom node 0 and the PageRank driver route a node
    -9223372036854775808 instead."""
    from metagraph_spark.operators.embedding import hope_katz_train
    from metagraph_spark.operators.pagerank import pagerank

    e = spark.createDataFrame([(1, 2), (2, 3), (None, 3)], "src long, dst long")
    g = build(e, is_directed=True)
    with pytest.raises(GraphPropertyError, match="null node ids"):
        hope_katz_train(g, embedding_size=4, k_terms=2, power_iters=1)
    with pytest.raises(GraphPropertyError, match="null node ids"):
        pagerank(g, strategy="kernel")
    with pytest.raises(GraphPropertyError, match="null node ids"):
        collect_edges(build(df_from_edges(spark, [(1, 2)], weighted=False),
                            nodes=spark.createDataFrame([(None,)], "id long")),
                      "raw")
