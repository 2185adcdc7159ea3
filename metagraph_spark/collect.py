"""The one driver collect: a graph's edges as positional numpy arrays.

Every driver kernel — the superstep engine's driver executor, HOPE, the
triangle driver layout, betweenness, dfs/A*, max-flow/min-cut and the
subisomorphism search — reads the graph through :func:`collect_edges`:
ONE ``toArrow()`` of the edge columns plus the explicit node ids, if any
(the CIDR'22 Arrow-UDF paper's point: the JVM→Python transfer is a cost of
its own, paid once per call here). The node universe — endpoints ∪
``graph.nodes``, sorted, position = index — is ``graph.node_ids()`` built
in numpy, so no distinct job runs.

Each mode's edge set is built in numpy exactly as :func:`mode_edges`
builds it in Spark (rows in collect order; the canonical modes in sorted
pair order). Size guards count :func:`routing.driver_edge_rows` rows for a
mode before anything is collected.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metagraph_spark.exceptions import GraphPropertyError
from metagraph_spark.graph import DST, ID, SRC, WEIGHT, Graph

MODES = ("raw", "sym", "raw_sym", "canonical", "canonical_sym", "reverse")


class LocalEdges(NamedTuple):
    ids: np.ndarray      # sorted node ids; position = index
    src: np.ndarray      # int64 positions, collect order
    dst: np.ndarray      # int64 positions
    w: np.ndarray | None  # float64 weights (weighted graphs, when asked)


def mode_edges(graph: Graph, mode: str) -> DataFrame:
    """The Spark edge set of ``mode`` (weights kept where the graph has them):

    - ``"raw"`` — the edge rows as stored;
    - ``"sym"`` — ``graph.symmetrized()``;
    - ``"raw_sym"`` — both directions of every raw row;
    - ``"canonical"`` — ``graph.canonical_undirected_edges()``: deduplicated
      (min,max) pairs without self-loops, max weight per pair;
    - ``"canonical_sym"`` — the canonical pairs in both directions;
    - ``"reverse"`` — every row reversed."""
    e = graph.edges
    if mode == "raw":
        return e
    if mode == "sym":
        return graph.symmetrized()
    if mode in ("canonical", "canonical_sym"):
        canon = graph.canonical_undirected_edges()
        if mode == "canonical":
            return canon
        return Graph(edges=canon, is_directed=False).symmetrized()
    rev = e.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST),
                   *([F.col(WEIGHT)] if graph.is_weighted else []))
    if mode == "reverse":
        return rev
    if mode == "raw_sym":
        return e.unionAll(rev)
    raise ValueError(f"unknown edge mode {mode!r}")


def collect_edges(graph: Graph, mode: str, weighted: bool = False) -> LocalEdges:
    """:func:`mode_edges` on the driver from one Arrow collect. ``weighted``
    carries the weight column of a weighted graph (otherwise ``w=None``).
    Null endpoint or node ids raise :class:`GraphPropertyError` (positions
    of a null id would be garbage)."""
    if mode not in MODES:
        raise ValueError(f"unknown edge mode {mode!r}")
    weighted = weighted and graph.is_weighted
    cols = [SRC, DST] + ([F.col(WEIGHT).cast("double").alias(WEIGHT)]
                         if weighted else [])
    tbl = graph.edges.select(*cols).toArrow()
    id_cols = [tbl.column(SRC), tbl.column(DST)]
    if graph.nodes is not None:
        id_cols.append(graph.nodes.select(ID).toArrow().column(ID))
    if any(c.null_count for c in id_cols):
        raise GraphPropertyError(
            "graph has null node ids (edge endpoints or node table)")
    s, d, *extra = [c.to_numpy().astype(np.int64, copy=False) for c in id_cols]
    w = (tbl.column(WEIGHT).to_numpy().astype(np.float64, copy=False)
         if weighted else None)
    ids = np.unique(np.concatenate([s, d, *extra]))
    sp, dp = np.searchsorted(ids, s), np.searchsorted(ids, d)
    if mode in ("canonical", "canonical_sym"):
        n = np.int64(len(ids))
        keep = sp != dp
        keys = np.minimum(sp[keep], dp[keep]) * n + np.maximum(sp[keep], dp[keep])
        uniq, inv = np.unique(keys, return_inverse=True)
        sp, dp = uniq // n, uniq % n
        if w is not None:
            wmax = np.full(len(uniq), -np.inf)
            np.maximum.at(wmax, inv, w[keep])
            w = wmax
        if mode == "canonical":
            return LocalEdges(ids, sp, dp, w)
        mode = "raw_sym"
    if mode == "raw" or (mode == "sym" and graph.is_directed):
        return LocalEdges(ids, sp, dp, w)
    if mode == "reverse":
        return LocalEdges(ids, dp, sp, w)
    # "raw_sym": every row both ways; "sym" (undirected): the rows, then
    # the reverse of every non-self-loop row (``Graph.symmetrized``)
    keep = slice(None) if mode == "raw_sym" else sp != dp
    return LocalEdges(
        ids, np.concatenate([sp, dp[keep]]), np.concatenate([dp, sp[keep]]),
        None if w is None else np.concatenate([w, w[keep]]))


def sort_by(key: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``(order, indptr)``: the stable sort of rows by ``key`` (positions in
    ``[0, n)``) and each key's row range ``indptr[k]:indptr[k + 1]`` in
    that order — the CSR of every driver kernel."""
    order = np.argsort(key, kind="stable")
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(key, minlength=n), out=indptr[1:])
    return order, indptr


def positions(ids: np.ndarray, query, error) -> np.ndarray:
    """Positions of the ``query`` ids in the sorted ``ids``; raises
    ``error(missing ids)`` when any is absent (``searchsorted`` alone would
    silently return an insertion position)."""
    q = np.asarray(query, dtype=np.int64)
    pos = np.searchsorted(ids, q)
    found = pos < len(ids)
    found[found] = ids[pos[found]] == q[found]
    if not found.all():
        raise error(q[~found])
    return pos


def position(ids: np.ndarray, node_id: int, what: str) -> int:
    """Position of one node id; ``ValueError`` when it is not in the graph."""
    return int(positions(ids, [node_id], lambda _: ValueError(
        f"{what} node {node_id} not in graph"))[0])
