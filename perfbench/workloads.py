"""Workloads, set-up and the closed-loop client of the benchmark.

Every call goes through the public operators with the default
``strategy="auto"``, so the physical route is the one a user gets. One client
issues the calls back to back (closed loop): pagerank, cc, lpa, pagerank, ...
A call is timed from the operator call until ``.count()`` of its result
returns; collecting the result for the correctness check happens after that
window.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

import reference
import tracing

OPS = ("pagerank", "cc", "lpa")
PAGERANK_ARGS = {"maxiter": 100, "tolerance": 1e-6}
# LPA runs a fixed number of rounds: its rounds to convergence vary 7-19
# with the seed on this graph family, which would make lpa_s measure the
# seed rather than the code
LPA_ROUNDS = 3
CONVS = 200_000  # conversations of the workload graph (~280k edges)
COLD_CONVS = 1_000  # graph size of the cold set-up


@dataclass(frozen=True)
class Workload:
    name: str
    checkpointed: bool


WORKLOADS = {
    w.name: w
    for w in (
        # conv_tool_bipartite graph, far below the 5M-edge driver cap: the
        # driver kernel, its Arrow collect and the emit do the work
        Workload("transcript_driver", checkpointed=False),
        # the same graph with a fresh CheckpointManager per call: the join
        # superstep and per-superstep parquet state, no driver kernel
        Workload("transcript_checkpointed", checkpointed=True),
    )
}


# ----------------------------------------------------------------- session
def start_session(cpus: int, tmp_root: str, event_log_dir: str | None = None):
    from metagraph_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp_root} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cpus}]",
                     extra_conf=conf)


def stop_session(keep_jvm: bool = False) -> None:
    """Stop the session; unless ``keep_jvm``, also stop its JVM and wait
    until it has exited, so no process outlives the run."""
    from pyspark import SparkContext

    from metagraph_spark.session import stop_spark

    stop_spark()
    gateway = SparkContext._gateway
    if keep_jvm or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=120)


# ------------------------------------------------------------------ set-up
def transcript_graph(spark, convs: int, seed: int):
    from metagraph_spark.ingest import synthesize_transcripts, transcript_graph

    g, _labels = transcript_graph(
        synthesize_transcripts(spark, convs, seed=seed), "conv_tool_bipartite"
    )
    return g


def run_op(op: str, graph, checkpointer=None, metrics_sink=None, **kw):
    from metagraph_spark.operators.components import connected_components
    from metagraph_spark.operators.lpa import label_propagation_community
    from metagraph_spark.operators.pagerank import pagerank

    if op == "pagerank":
        return pagerank(graph, checkpointer=checkpointer,
                        metrics_sink=metrics_sink, **{**PAGERANK_ARGS, **kw})
    if op == "cc":
        return connected_components(graph, checkpointer=checkpointer, **kw)
    return label_propagation_community(
        graph, checkpointer=checkpointer, **{"fixed_rounds": LPA_ROUNDS, **kw})


def _setup_once(seed, convs, spans, session_args):
    with spans.span("session.start"):
        spark = start_session(*session_args)
    with spans.span("ingest.edges"):
        raw = transcript_graph(spark, convs, seed)
        raw.edges.persist()
        raw.edges.count()
    with spans.span("graph.partition_by_src"):
        graph = raw.partition_by_src()
        graph.num_edges()
        graph.num_nodes()
        raw.edges.unpersist()
    return spark, graph


def setup(w: Workload, seed: int, cpus: int, tmp_root: str, spans,
          checkpoint_cls, reps: int, event_log_dir=None, convs=None):
    """Set-up in three steps:

    - ``setup.cold``: JVM start and the set-up steps on a small graph of the
      same family, so the JVM is warm;
    - ``reps`` times ``setup``: a fresh Spark session on the warm JVM, edge
      generation and ``partition_by_src`` of the workload's graph;
    - ``setup.warmup``: in the last session, one single-superstep pagerank
      call on the workload's graph through the same route as the timed
      calls, so the Python worker pool and the Arrow paths are warm.

    Returns ``(spark, graph)``.
    """
    convs = convs or CONVS
    session_args = (cpus, tmp_root, event_log_dir)
    with spans.span("setup.cold"):
        _setup_once(seed, min(COLD_CONVS, convs), spans, session_args)
    for rec in spans.records:  # layer times come from the warm set-ups
        if rec["name"] != "setup.cold":
            rec["name"] = "setup.cold/" + rec["name"]
    for _ in range(reps):
        stop_session(keep_jvm=True)
        with spans.span("setup"):
            spark, graph = _setup_once(seed, convs, spans, session_args)
    warm_dir = os.path.join(tmp_root, "warmup")
    with spans.span("setup.warmup"):
        ckpt = checkpoint_cls(warm_dir, "pagerank") if w.checkpointed else None
        run_op("pagerank", graph, ckpt, fixed_iterations=1).count()
    shutil.rmtree(warm_dir, ignore_errors=True)
    return spark, graph


# ------------------------------------------------------------ closed loop
def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def counting_checkpoint_cls():
    """A fresh ``CheckpointManager`` subclass that times every ``save`` (the
    state layer) of all its instances into ``save_seconds``."""
    from metagraph_spark.state import CheckpointManager

    class Counting(CheckpointManager):
        def save(self, iteration, state, metrics):
            t0 = time.perf_counter()
            try:
                return super().save(iteration, state, metrics)
            finally:
                self.save_seconds.append(time.perf_counter() - t0)

    Counting.save_seconds = []
    return Counting


def timed_call(op, graph, spans, call_id, checkpointer, metrics_sink):
    """Run one call; returns ``(result_df, return_s, emit_s)``."""
    with spans.span("call", call_id) as call:
        with spans.span("return", call_id):
            df = run_op(op, graph, checkpointer, metrics_sink)
        with spans.span("emit", call_id) as emit:
            df.count()
    return (df, emit["start"] - call["start"], emit["end"] - emit["start"])


def closed_loop(w, graph, seconds, tmp_root, spans, checkpoint_cls, sc=None):
    """Issue calls in OPS order, in whole rounds of one call per op, until
    ``seconds`` have passed. With ``sc`` (traced run) every call runs in its own
    Spark job group and gets that group's job/stage/task counts. Returns the
    per-call records."""
    calls = []
    ckpt_dir = os.path.join(tmp_root, "ckpt")
    deadline = time.perf_counter() + seconds
    i = 0
    while i % len(OPS) or time.perf_counter() < deadline:
        op = OPS[i % len(OPS)]
        call_id = f"{op}#{i}"
        ckpt = checkpoint_cls(ckpt_dir, call_id) if w.checkpointed else None
        sink = []
        rec = {"op": op, "call_id": call_id, "ok": False}
        try:
            if sc is None:
                df, ret_s, emit_s = timed_call(op, graph, spans, call_id,
                                               ckpt, sink)
            else:
                with tracing.job_group(sc, call_id):
                    df, ret_s, emit_s = timed_call(op, graph, spans, call_id,
                                                   ckpt, sink)
                with spans.span("trace.status", call_id):
                    rec.update(tracing.group_counts(sc, call_id))
            rec.update(return_s=ret_s, emit_s=emit_s, wall_s=ret_s + emit_s,
                       supersteps=len(sink), ok=True)
            rec["result"] = collect(df, "rank" if op == "pagerank" else "label")
        except Exception:  # a failed call is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
        if ckpt is not None:
            latest = ckpt.latest()  # committed supersteps of this call
            rec["state_saves"] = 0 if latest is None else latest + 1
            rec["checkpoint_bytes"] = dir_bytes(os.path.join(ckpt_dir, call_id))
            shutil.rmtree(os.path.join(ckpt_dir, call_id), ignore_errors=True)
        calls.append(rec)
        i += 1
    return calls


def collect(df, col):
    pdf = df.toPandas().sort_values("id")
    return pdf["id"].to_numpy(np.int64), pdf[col].to_numpy()


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# ----------------------------------------------------------- correctness
def references(graph):
    """Sorted node ids plus each operator's reference output, computed from
    one collect of the edge table, outside every timed window."""
    pdf = graph.edges.select("src", "dst").toPandas()
    s = pdf["src"].to_numpy(np.int64)
    d = pdf["dst"].to_numpy(np.int64)
    ids = np.unique(np.concatenate([s, d]))
    sp, dp = np.searchsorted(ids, s), np.searchsorted(ids, d)
    ranks, iters = reference.pagerank(sp, dp, len(ids), **PAGERANK_ARGS)
    return {
        "ids": ids,
        "pagerank": ranks,
        "pagerank_iterations": iters,
        "cc": reference.components(sp, dp, len(ids)),
        "lpa": reference.canonical_partition(
            reference.label_propagation(sp, dp, len(ids), LPA_ROUNDS)),
    }


def check(rec, ref) -> bool:
    """True when the call's output matches the reference: PageRank within
    1e-6 (absolute) of the reference run to the same stopping rule, CC as
    exact min-id labels, LPA as the same partition."""
    ids, values = rec["result"]
    if not np.array_equal(ids, ref["ids"]):
        return False
    op = rec["op"]
    if op == "pagerank":
        return bool(np.allclose(values, ref["pagerank"], rtol=0, atol=1e-6))
    pos = np.searchsorted(ref["ids"], values.astype(np.int64))
    if op == "cc":
        return bool(np.array_equal(pos, ref["cc"]))
    return bool(np.array_equal(reference.canonical_partition(pos), ref["lpa"]))


def median(xs):
    return statistics.median(xs) if xs else float("nan")
