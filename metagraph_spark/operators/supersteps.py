"""One superstep engine: kernel programs × executors, one routing rule.

A **program** is one iterative vertex algorithm written once (PageRank,
katz, connected components, LPA — see :class:`Program`). It supplies the
initial vector, the per-block gather (weighted ``bincount``,
``_segmented_min`` or ``_mode_votes``), the apply step on a ``[lo, hi)``
slice plus the scalars it reduces, the stop test and the output column.

An **executor** runs a program's supersteps over one edge layout. The
superstep loop itself is :func:`run_supersteps` — written once; each
executor owns what differs between routes:

- :class:`Driver` — one block over the full vector, entirely on the driver
  (no Spark job per superstep);
- :class:`Broadcast` — Spark-held blocks: tasks gather against a broadcast
  vector, the driver assembles and applies;
- :class:`SliceStore` — file-backed blocks: tasks gather, apply and write
  their slice of the next vector into a slice store; the vector never
  crosses the driver. It owns the resume/commit markers, slice-loss checks
  and the distributed emit.

**Routing** (:func:`route`, with the rule ``routing.choose_executor``)
picks the executor from measured sizes: the edge rows the driver would
hold after symmetrization and the vertex count, against the
``routing.DRIVER_MAX_*`` caps. Every ``Graph`` input within the driver cap
enters the driver executor through the one driver collect
(:func:`collect.collect_edges`); above it the layout is built, file-backed
blocks with at least ``routing.SLICE_STORE_MIN_VERTICES`` vertices take the
slice store and all other blocks the broadcast executor. An injected slice
store always takes the slice store.
"""

from __future__ import annotations

import math
import os
import uuid
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from metagraph_spark import routing
from metagraph_spark.collect import collect_edges, sort_by
from metagraph_spark.exceptions import ConvergenceError
from metagraph_spark.graph import Graph
from metagraph_spark.operators import kernel
from metagraph_spark.operators.kernel import EdgeBlocks, LocalSliceStore

_AUX = "aux"


# -------------------------------------------------------- driver edge arrays
class DriverArrays(NamedTuple):
    """One dst-sorted block over the full vector, held on the driver."""

    spark: object
    ids: np.ndarray   # sorted node ids; position = index
    srcs: np.ndarray  # int64 positions
    dsts: np.ndarray  # int64 positions, sorted (stable)
    ws: np.ndarray | None


def _driver_graph_arrays(graph: Graph, mode: str,
                         weighted: bool = False) -> DriverArrays:
    """The ``mode`` edges of ``graph`` from the one driver collect
    (:func:`collect.collect_edges`), stable-sorted by dst position like
    packed blocks, so every gather applies unchanged."""
    e = collect_edges(graph, mode, weighted)
    order, _ = sort_by(e.dst, len(e.ids))
    return DriverArrays(graph.edges.sparkSession, e.ids, e.src[order],
                        e.dst[order], None if e.w is None else e.w[order])


def _arrays_from_blocks(eb: EdgeBlocks) -> DriverArrays:
    """Prebuilt blocks as one driver block (blocks concatenated in dst
    order: every dst keeps its edges in block order, so each gather's
    result is exactly the per-block one)."""
    blks = kernel._load_block_arrays(eb)
    cat = (lambda xs: np.concatenate(xs) if xs else np.empty(0, np.int64))
    ws = ([b[3] for b in blks] if eb.has_weights else None)
    return DriverArrays(
        spark_of(eb), np.asarray(eb.node_ids),
        cat([b[1] for b in blks]), cat([b[2] + b[0] for b in blks]),
        None if ws is None else cat(ws).astype(np.float64),
    )


def spark_of(blocks):
    if isinstance(blocks, DriverArrays):
        return blocks.spark
    return (blocks.blocks if blocks.blocks is not None
            else blocks.manifest).sparkSession


def num_vertices(blocks) -> int:
    return len(blocks.ids) if isinstance(blocks, DriverArrays) else blocks.n


def vertex_ids(blocks) -> np.ndarray:
    return np.asarray(blocks.ids if isinstance(blocks, DriverArrays)
                      else blocks.node_ids)


# ----------------------------------------------------------------- programs
class Program:
    """One iterative kernel algorithm; stateless apart from its parameters
    (instances are pickled into Spark tasks). A program defines:

    - ``init(n)`` — the initial vector;
    - ``gather(srcs, dsts, ws, vec, aux, lo, width)`` — the dense gather of
      one dst-sorted block (local dsts) into slice ``[lo, lo + width)``;
      ``blank(prev)`` is the gather result where no block has edges;
    - ``update(g, prev, totals, n)`` — the apply step on a slice, and
      ``measure(new, prev, aux)`` — the scalars (named ``measures``) it
      reduces; executors sum them over slices into ``totals``;
    - ``converged(totals, n)`` — the stop test; ``cap_error(totals)`` the
      ConvergenceError text when the step cap is hit (None: return);
    - ``output(ids, vec, totals)`` — the values of the ``column`` output.

    ``carries`` programs read the PREVIOUS vector's totals in ``update``
    (PageRank's dangling mass); ``jumps`` programs pointer-jump the vector
    to full compression after every superstep that changed it (converged
    CC). ``aux_for(blocks)`` gives a static per-vertex vector (an array or
    a ``.npy`` path) that gather/measure read; ``meta`` the parameters that
    shape the vector sequence (the resume identity)."""

    name = ""
    dtype = np.float64
    column = ""
    measures: tuple = ()
    carries = False
    jumps = False
    mode = "sym"         # ``collect.mode_edges`` mode of a Graph input
    weighted = False     # gather reads the layout's per-edge weights
    meta: dict = {}

    def __init__(self, max_steps: int, fixed: int | None):
        self.total = fixed if fixed is not None else max_steps
        self.fixed = fixed is not None

    @property
    def sql_type(self) -> str:
        return "double" if self.dtype == np.float64 else "long"

    def aux_for(self, blocks):
        return None

    def cap_error(self, totals: dict) -> str | None:
        return None

    def report(self, totals: dict) -> dict:
        """The ``metrics_sink`` entry fields of one superstep."""
        return dict(totals)

    def output(self, ids, vec, totals: dict) -> np.ndarray:
        return vec


class LinearProgram(Program):
    """``x' = f(Aᵀ(x·aux·w))``: weighted-``bincount`` gather, L1 stop test
    ``Σ|x'-x| < N·tol`` (PageRank, katz; eigenvector/HITS use its gather)."""

    measures = ("err",)
    weighted = True

    def __init__(self, maxiter=50, tolerance=1e-05, fixed=None):
        super().__init__(maxiter, fixed)
        self.tolerance = tolerance

    def blank(self, prev):
        return np.zeros(len(prev))

    def gather(self, srcs, dsts, ws, vec, aux, lo, width):
        w = vec[srcs]
        if aux is not None:
            w = w * aux[srcs]
        if ws is not None:
            w = w * ws
        return np.bincount(dsts, weights=w, minlength=width)[:width]

    def converged(self, totals, n):
        return not self.fixed and totals["err"] < n * self.tolerance

    def cap_error(self, totals):
        return (f"{self.name} failed to converge in {self.total} iterations "
                f"(err={totals.get('err')!r})")

    def report(self, totals):
        return {"l1_error": totals["err"]}


class PageRank(LinearProgram):
    """networkx PageRank: ``r' = d·Aᵀ(r/outdeg) + d·dangle/N + (1-d)/N``."""

    name = "pagerank_kernel"
    column = "rank"
    measures = ("err", "dangle")
    carries = True
    weighted = False  # transition probabilities are 1/out-degree

    def __init__(self, damping=0.85, maxiter=50, tolerance=1e-05,
                 fixed=None):
        super().__init__(maxiter, tolerance, fixed)
        self.damping = damping

    @property
    def meta(self):
        return {"damping": self.damping}

    def aux_for(self, blocks):
        """Inverse out-degree (0 for dangling vertices): the layout's
        ``inv_deg.npy`` for file-backed blocks, else from the degrees."""
        if isinstance(blocks, DriverArrays):
            deg = np.bincount(blocks.srcs, minlength=len(blocks.ids))
            deg = deg.astype(np.float64)
        elif blocks.spill_dir is not None:
            return os.path.join(blocks.spill_dir, "inv_deg.npy")
        else:
            deg = np.asarray(blocks.out_deg)
        return np.where(deg == 0, 0.0, 1.0 / np.maximum(deg, 1.0))

    def init(self, n):
        return np.full(n, 1.0 / n)

    def update(self, g, prev, totals, n):
        d = self.damping
        return d * g + d * totals["dangle"] / n + (1.0 - d) / n

    def measure(self, new, prev, aux):
        return (np.abs(new - prev).sum(), new[aux == 0.0].sum())


class Katz(LinearProgram):
    """Katz ``x' = α·Aᵀx + β`` from zero; output L2-normalized."""

    name = "katz"
    column = "katz"
    measures = ("err", "sumsq")

    def __init__(self, alpha=0.01, beta=1.0, maxiter=50, tolerance=1e-05,
                 fixed=None):
        super().__init__(maxiter, tolerance, fixed)
        self.alpha, self.beta = alpha, beta

    @property
    def meta(self):
        return {"alpha": self.alpha, "beta": self.beta}

    def init(self, n):
        return np.zeros(n)

    def update(self, g, prev, totals, n):
        return self.alpha * g + self.beta

    def measure(self, new, prev, aux):
        return (np.abs(new - prev).sum(), (new * new).sum())

    def output(self, ids, vec, totals):
        sumsq = totals.get("sumsq", 0.0)
        return vec * (1.0 / math.sqrt(sumsq) if sumsq > 0 else 1.0)


# ----------------------------------------------------------------- executors
def run_supersteps(program: Program, blocks, executor,
                   metrics_sink: list | None = None) -> DataFrame:
    """Run ``program`` over ``blocks`` (:class:`DriverArrays` or
    :class:`EdgeBlocks`) on ``executor``; returns ``(id, <column>)``.

    The one superstep loop: superstep ``it`` turns vector ``it`` into
    vector ``it + 1`` and reduces the program's measures; ``metrics_sink``
    receives one ``{"iteration": it, ...}`` dict per superstep."""
    n = num_vertices(blocks)
    schema = f"id long, {program.column} {program.sql_type}"
    if n == 0:
        return spark_of(blocks).createDataFrame([], schema)
    first, totals = executor.start(program, blocks, n)
    for it in range(first, program.total):
        totals = executor.superstep(it, totals)
        if metrics_sink is not None:
            metrics_sink.append({"iteration": it, **program.report(totals)})
        if program.converged(totals, n):
            break
    else:
        msg = None if program.fixed else program.cap_error(totals)
        if msg is not None:
            executor.abort()
            raise ConvergenceError(msg)
    return executor.emit(totals, schema)


class _Resident:
    """Executors whose vector lives on the driver: the driver applies."""

    def start(self, program, blocks, n):
        self.p, self.n, self.blocks = program, n, blocks
        aux = program.aux_for(blocks)
        self.aux = np.load(aux) if isinstance(aux, str) else aux
        self.vec = program.init(n)
        self._open()
        totals = {}
        if program.carries:
            totals = self._measure(self.vec, self.vec)
        return 0, totals

    def _measure(self, new, prev):
        return {k: float(v) for k, v in
                zip(self.p.measures, self.p.measure(new, prev, self.aux))}

    def _open(self):
        pass

    def superstep(self, it, totals):
        p, prev = self.p, self.vec
        new = p.update(self.gather(prev), prev, totals, self.n)
        totals = self._measure(new, prev)
        if p.jumps and totals["changed"]:
            while True:  # pointer jumping to full compression
                nxt = new[new]
                if np.array_equal(nxt, new):
                    break
                new = nxt
        self.vec = new
        return totals

    def abort(self):
        self._close()

    def _close(self):
        pass

    def emit(self, totals, schema):
        self._close()
        ids = vertex_ids(self.blocks)
        return spark_of(self.blocks).createDataFrame(
            pd.DataFrame({"id": ids,
                          self.p.column: self.p.output(ids, self.vec, totals)}),
            schema=schema,
        )


class Driver(_Resident):
    """Every superstep on the driver over one block spanning the vector."""

    def start(self, program, blocks, n):
        if isinstance(blocks, EdgeBlocks):
            blocks = _arrays_from_blocks(blocks)
        return super().start(program, blocks, n)

    def gather(self, vec):
        b, p = self.blocks, self.p
        ws = b.ws if p.weighted else None
        return p.gather(b.srcs, b.dsts, ws, vec, self.aux, 0, self.n)


class Broadcast(_Resident):
    """Tasks gather their blocks against the broadcast vector (one Spark
    job per superstep); the driver assembles the slices and applies."""

    def _open(self):
        sc = spark_of(self.blocks).sparkContext
        self.aux_bc = sc.broadcast(self.aux) if self.aux is not None else None

    def _close(self):
        if self.aux_bc is not None:
            self.aux_bc.unpersist()
            self.aux_bc = None

    def gather(self, vec):
        return broadcast_gather(self.p, self.blocks, vec, self.aux_bc)


def broadcast_gather(program, eb: EdgeBlocks, vec, aux_bc=None):
    """One gather pass of ``program`` over Spark-held or file-backed blocks
    against a broadcast ``vec``; returns the assembled full-length result."""
    sc = spark_of(eb).sparkContext
    bc = sc.broadcast(vec)
    file_backed = eb.manifest is not None
    weighted = program.weighted and eb.has_weights

    def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        v = np.asarray(bc.value)
        aux = None if aux_bc is None else aux_bc.value
        for pdf in batches:
            for _, row in pdf.iterrows():
                srcs, dsts, ws = kernel._block_arrays(row, file_backed, weighted)
                if len(dsts) == 0:
                    continue
                lo = int(row["dst_lo"])
                g = program.gather(srcs, dsts, ws, v, aux, lo, int(dsts[-1]) + 1)
                yield pd.DataFrame({"dst_lo": [np.int64(lo)], "g": [g]})

    rows = eb.manifest if file_backed else eb.blocks
    out = rows.mapInPandas(
        task, schema=f"dst_lo long, g array<{program.sql_type}>"
    ).toPandas()
    bc.unpersist()
    g_vec = program.blank(vec)
    for lo, g in zip(out["dst_lo"], out["g"]):
        g_vec[lo : lo + len(g)] = g
    return g_vec


def gather(program: Program, blocks, vec: np.ndarray) -> np.ndarray:
    """One full gather pass (no apply): the driver block directly, or one
    broadcast job over Spark-held blocks — for kernels with their own
    schedules (eigenvector, HITS)."""
    if isinstance(blocks, DriverArrays):
        return program.gather(blocks.srcs, blocks.dsts, blocks.ws, vec, None,
                              0, len(vec))
    return broadcast_gather(program, blocks, vec)


class SliceStore:
    """File-backed blocks; every task gathers its dst range, applies the
    update and writes its slice of the next vector into the slice store.
    Driver state is O(num_blocks): per superstep it schedules one job and
    sums one row of measures per slice.

    Vector ``k`` of the store is the state after ``k`` supersteps; the
    driver stamps its commit marker only after every slice reported back,
    so ``resume=True`` restarts from the newest committed vector (the run
    identity in the store's meta must match, else ValueError). Any object
    implementing the protocol in :mod:`slice_stores` can be injected; the
    default is a :class:`LocalSliceStore` under the layout's spill_dir."""

    def __init__(self, store=None, resume: bool = False):
        self.store, self.resume = store, resume

    def start(self, program, eb, n):
        if not isinstance(eb, EdgeBlocks) or eb.manifest is None:
            raise ValueError(
                "slice_store requires file-backed blocks "
                "(build_edge_blocks(..., spill_dir=...))"
            )
        self.p, self.eb, self.n = program, eb, n
        los = sorted(int(r["dst_lo"]) for r in eb.manifest.collect())
        nb = len(los)
        if los != [kernel._blk_lo(k, n, nb) for k in range(nb)]:
            raise RuntimeError("file-backed layout does not cover every dst range")
        self.hi_of = {kernel._blk_lo(k, n, nb): kernel._blk_lo(k + 1, n, nb)
                      for k in range(nb)}
        store = self.store or LocalSliceStore(
            os.path.join(eb.spill_dir, f"run_{uuid.uuid4().hex[:12]}"))
        self.store = store
        store.init_run()
        aux = program.aux_for(eb)
        self.has_aux = aux is not None
        if isinstance(aux, str):
            store.put_aux_file(_AUX, aux)
        elif aux is not None:
            store.put_aux(_AUX, aux)
        meta = {"program": program.name, "n": n, **program.meta}
        first = None
        if self.resume:
            prior, latest = store.get_meta(), store.latest_complete()
            if prior is not None and latest is not None:
                if prior != meta:
                    raise ValueError(
                        "resume requested but the slice store holds a "
                        f"different run (stored {prior}, this run {meta})"
                    )
                first = latest
        if first is None:
            first = 0
            store.put_meta(meta)
            store.write_full(0, program.init(n))
            store.mark_complete(0)
        totals = {}
        if program.carries:  # measures of the starting vector itself
            totals = self._job(first, None, lambda path, lo, hi, v, aux: (
                None, program.measure(_sl(v, lo, hi), _sl(v, lo, hi),
                                      _sl(aux, lo, hi))))
        return first, totals

    def _job(self, read_idx, write_idx, per_slice, names=None):
        """One Spark job over the manifest: ``per_slice(path, lo, hi, vec,
        aux) -> (new_slice|None, measures)`` per dst range; writes the new
        slices into vector ``write_idx`` and returns the summed measures.
        A slice missing from the result aborts the run."""
        store, hi_of, has_aux = self.store, self.hi_of, self.has_aux
        names = names or self.p.measures

        def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            vec = store.open_read(read_idx)
            out = None if write_idx is None else store.open_write(write_idx)
            aux = store.get_aux(_AUX) if has_aux else None
            for pdf in batches:
                for path, lo in zip(pdf["path"], pdf["dst_lo"]):
                    lo = int(lo)
                    new, parts = per_slice(path, lo, hi_of[lo], vec, aux)
                    if out is not None:
                        out[lo : hi_of[lo]] = new
                    yield pd.DataFrame(
                        {"dst_lo": [lo], **{k: [float(v)]
                                            for k, v in zip(names, parts)}})
            if out is not None:
                store.flush(out)

        schema = ", ".join(["dst_lo long"] + [f"{k} double" for k in names])
        out = self.eb.manifest.mapInPandas(task, schema=schema).toPandas()
        if set(out["dst_lo"]) != set(hi_of):
            store.cleanup()
            raise RuntimeError(f"{self.p.name} superstep lost a slice")
        return {k: float(out[k].sum()) for k in names}

    def superstep(self, it, totals):
        p, n, store = self.p, self.n, self.store
        weighted = p.weighted and self.eb.has_weights

        def step(path, lo, hi, vec, aux):
            srcs, dsts, ws = kernel._read_block(path, weighted)
            prev = np.asarray(vec[lo:hi])
            new = p.update(p.gather(srcs, dsts, ws, vec, aux, lo, hi - lo),
                           prev, totals, n)
            return new, p.measure(new, prev, _sl(aux, lo, hi))

        store.create_vector(it + 1, n, dtype=p.dtype)
        totals = self._job(it, it + 1, step)
        if p.jumps and totals["changed"]:
            self._compress(it + 1)
        store.mark_complete(it + 1)  # commit: every slice reported back
        store.delete_vector(it)
        return totals

    def _compress(self, idx):
        """Pointer jumping to full compression, one job per doubling:
        ping-pong between vectors ``idx`` and ``idx + 1`` until a pass
        changes nothing — the stable vector then sits in ``idx``."""
        def jump(path, lo, hi, vec, aux):
            cur = np.asarray(vec[lo:hi])
            new = np.asarray(vec)[cur]
            return new, ((new != cur).sum(),)

        src, dst = idx, idx + 1
        self.store.create_vector(dst, self.n, dtype=self.p.dtype)
        while self._job(src, dst, jump, ("changed",))["changed"]:
            src, dst = dst, src
        self.store.delete_vector(idx + 1)

    def abort(self):
        self.store.cleanup()

    def emit(self, totals, schema):
        """Distributed result: each task emits its dst range from the
        mmap'd id file and the final vector; localCheckpoint pins it before
        the store is cleaned up."""
        from metagraph_spark.state import truncate_lineage

        p, store, hi_of = self.p, self.store, self.hi_of
        ids_path = os.path.join(self.eb.spill_dir, "node_ids.npy")
        final = store.latest_complete()

        def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids = np.load(ids_path, mmap_mode="r")
            vec = store.open_read(final)
            for pdf in batches:
                for lo in pdf["dst_lo"]:
                    lo, hi = int(lo), hi_of[int(lo)]
                    yield pd.DataFrame({
                        "id": np.asarray(ids[lo:hi]),
                        p.column: p.output(ids, np.asarray(vec[lo:hi]), totals),
                    })

        result = truncate_lineage(self.eb.manifest.mapInPandas(task, schema))
        store.cleanup()
        return result


def _sl(aux, lo, hi):
    return None if aux is None else np.asarray(aux[lo:hi])


# ------------------------------------------------------------ kernel entry
def route(source, mode: str, weighted: bool, layout, spill_dir=None,
          slice_store=None):
    """``(executor name, blocks, owned)`` for one kernel call on a Graph or
    prebuilt :class:`EdgeBlocks`. A Graph within the driver cap becomes
    driver arrays of its ``mode`` edges (one Arrow collect); otherwise
    ``layout(graph, spill_dir)`` builds its blocks (``owned``: the caller
    unpersists them), which are then routed by their measured rows."""
    if isinstance(source, Graph):
        name = routing.choose_executor(
            routing.driver_edge_rows(source, mode),
            routing.vertex_count(source),
            spill_dir is not None, slice_store is not None)
        if name == "driver":
            return name, _driver_graph_arrays(source, mode, weighted), None
        source = layout(source, spill_dir)
        owned = source
    else:
        owned = None
    name = routing.choose_executor(
        kernel.block_edge_rows(source), source.n,
        source.manifest is not None, slice_store is not None)
    return name, source, owned


def run_kernel(program: Program, source, layout, metrics_sink=None,
               slice_store=None, resume: bool = False, spill_dir=None):
    """One kernel call: :func:`route`, then :func:`run_supersteps` on the
    chosen executor."""
    if resume and slice_store is None:
        raise ValueError(
            "resume=True requires an injected slice_store (the default "
            "store lives under a fresh uuid dir per call and can never "
            "hold a prior run's vectors)"
        )
    name, blocks, owned = route(source, program.mode, program.weighted,
                                layout, spill_dir, slice_store)
    executor = {"driver": Driver, "broadcast": Broadcast}.get(name)
    try:
        return run_supersteps(
            program, blocks,
            executor() if executor else SliceStore(slice_store, resume),
            metrics_sink)
    finally:
        if owned is not None:
            owned.unpersist()
