"""The superstep engine: every kernel program on every executor gives the
same answer in the same number of supersteps, and one routing rule picks
the executor from measured sizes."""

import math
import random

import numpy as np
import pytest

from metagraph_spark import routing
from metagraph_spark.graph import build
from metagraph_spark.operators import supersteps as S
from metagraph_spark.operators.kernel import build_edge_blocks
from metagraph_spark.operators.kernel_algos import (
    ConnectedComponents,
    LabelPropagation,
    cc_blocks,
    label_blocks,
)
from tests.conftest import df_from_edges


def _graph(spark):
    """≤100 nodes: a weighted random digraph, a 20-node chain (CC needs
    pointer jumping), a dangling sink and an isolated node."""
    rng = random.Random(77)
    edges = [(rng.randrange(50), rng.randrange(50), float(rng.randint(1, 4)))
             for _ in range(160)]
    edges += [(60 + i, 61 + i, 1.0) for i in range(19)] + [(3, 90, 2.0)]
    nodes = spark.createDataFrame([(i,) for i in range(100)], "id long")
    return build(df_from_edges(spark, edges), nodes=nodes, is_directed=True)


PROGRAMS = {
    "pagerank": (lambda: S.PageRank(tolerance=1e-6, maxiter=200),
                 lambda g, **kw: build_edge_blocks(g, **kw)),
    "katz": (lambda: S.Katz(alpha=0.05, tolerance=1e-9, maxiter=200),
             lambda g, **kw: build_edge_blocks(
                 g, with_weights=True, with_degrees=False, **kw)),
    "cc": (lambda: ConnectedComponents(max_rounds=50), cc_blocks),
    "lpa": (lambda: LabelPropagation(max_rounds=8), label_blocks),
}


def _run(program, blocks, executor):
    sink: list = []
    out = S.run_supersteps(program, blocks, executor, metrics_sink=sink)
    return {r["id"]: r[program.column] for r in out.collect()}, len(sink)


@pytest.mark.parametrize("executor", ["driver", "broadcast", "slice"])
@pytest.mark.parametrize("name", sorted(PROGRAMS))
def test_program_executor_parity(spark, tmp_path, name, executor):
    """Each executor, run explicitly, matches the driver executor over the
    Graph's one-collect arrays: identical labels, values within rel 1e-12,
    equal superstep counts. Blocks: two dst ranges each."""
    make, layout = PROGRAMS[name]
    g = _graph(spark)
    ref = make()
    want, want_steps = _run(
        ref, S._driver_graph_arrays(g, ref.mode, ref.weighted), S.Driver())
    if executor == "slice":
        eb = layout(g, num_blocks=2, spill_dir=str(tmp_path / "blocks"))
        ex = S.SliceStore()
    else:
        eb = layout(g, num_blocks=2)
        ex = S.Driver() if executor == "driver" else S.Broadcast()
    got, got_steps = _run(make(), eb, ex)
    eb.unpersist()
    assert got_steps == want_steps > 1
    assert set(got) == set(want) == set(range(100))
    if ref.dtype == np.int64:
        assert got == want
    else:
        for k in want:
            assert math.isclose(got[k], want[k], rel_tol=1e-12), (k, got[k])


def test_executor_choice_at_cap_boundaries():
    """The one executor rule, at cap-1 / cap / cap+1 of every cap."""
    choose = routing.choose_executor
    cap_e = routing.DRIVER_MAX_EDGES
    cap_v = routing.DRIVER_MAX_VERTICES
    min_v = routing.SLICE_STORE_MIN_VERTICES
    for fb in (False, True):
        assert choose(cap_e - 1, 10, fb) == "driver"
        assert choose(cap_e, 10, fb) == "driver"
        assert choose(cap_e + 1, 10, fb) == "broadcast"
        above_v = "slice" if fb else "broadcast"
        assert choose(10, cap_v - 1, fb) == "driver"
        assert choose(10, cap_v, fb) == "driver"
        assert choose(10, cap_v + 1, fb) == above_v
    # past the edge cap, file-backed layouts switch at the vertex rule
    assert choose(cap_e + 1, min_v - 1, True) == "broadcast"
    assert choose(cap_e + 1, min_v, True) == "slice"
    assert choose(cap_e + 1, min_v + 1, True) == "slice"
    assert choose(cap_e + 1, min_v + 1, False) == "broadcast"
    # an injected slice store always takes the slice-store executor
    assert choose(10, 10, True, slice_store=True) == "slice"


def test_driver_rows_count_after_symmetrization(spark):
    """A Graph's driver rows are counted as collected, after
    symmetrization: 2E for undirected/symmetrizing modes, E otherwise."""
    e = [(0, 1), (1, 2), (2, 2)]
    und = build(df_from_edges(spark, e, weighted=False), is_directed=False)
    dirg = build(df_from_edges(spark, e, weighted=False), is_directed=True)
    assert routing.driver_edge_rows(und, "sym") == 6
    for mode in ("raw", "sym", "reverse", "canonical"):
        assert routing.driver_edge_rows(dirg, mode) == 3
    for mode in ("raw_sym", "canonical_sym"):
        assert routing.driver_edge_rows(dirg, mode) == 6
    # what the collect actually holds never exceeds the counted rows
    for g in (und, dirg):
        for mode in ("sym", "raw_sym", "canonical_sym"):
            arrays = S._driver_graph_arrays(g, mode)
            assert len(arrays.srcs) <= routing.driver_edge_rows(g, mode)
