#!/usr/bin/env python3
"""metagraph_spark benchmark.

    python3 perfbench/run.py --workload transcript_driver --seed 1 \\
        --seconds 10 --trace 0

Runs one workload (see ``workloads.WORKLOADS``) in a fresh single-process
``local[<cores>]`` Spark session, driven as a closed loop by one client, and
checks every call's output against an independent reference. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` is a separate traced run that
prints the per-layer metrics (README.md maps each to the end-to-end metric it
moves). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes (spill, checkpoints, Spark local dirs, the event
log) lives under one temporary directory inside ``.perfbench_tmp/`` that is
deleted when the run ends; spans of a traced run go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3  # warm set-ups per run after the cold one; setup_s is their median
STATE_PROBE_SAVES = 3
SETUP_LAYERS = ("setup.cold", "session.start", "ingest.edges",
                "graph.partition_by_src", "setup.warmup")


def host() -> dict:
    """Cores and memory of this host, and the Spark sizing derived from
    them (the library defaults assume 32 cores and a 24g driver heap)."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap = f"{max(1, min(4, int(mem_gb // 4)))}g"
    return {"cpus": cpus, "mem_gb": round(mem_gb, 1),
            "SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": heap}


def metric(value, unit):
    """A metric entry; a value with no sample (every call failed) is null."""
    value = float(value)
    return {"value": None if math.isnan(value) else value, "unit": unit}


def block_stats(spill_dir: str):
    """(blocks, max/min rows per block) from the ``*.dsts.npy`` block files
    of a file-backed layout."""
    rows = [np.load(os.path.join(spill_dir, f), mmap_mode="r").shape[0]
            for f in os.listdir(spill_dir) if f.endswith(".dsts.npy")]
    return len(rows), max(rows) / max(1, min(rows))


def layer_probes(spark, graph, tmp_root, spans, ckpt_cls, out):
    """Standalone layout and state probes: each operator's layout built
    on its own (file-backed, in the spill dir the benchmark passes), then its
    kernel iterating on the prebuilt blocks; then STATE_PROBE_SAVES saves of
    the |V|-row rank state through the counting checkpointer."""
    import tracing
    import workloads as wl
    from metagraph_spark.operators import kernel, kernel_algos

    sc = spark.sparkContext
    layouts = {"pagerank": (kernel.build_edge_blocks, kernel.pagerank_kernel),
               "cc": (kernel_algos.label_blocks, kernel_algos.cc_kernel),
               "lpa": (kernel_algos.label_blocks, kernel_algos.lpa_kernel)}
    for op, (build, iterate) in layouts.items():
        spill = os.path.join(tmp_root, "spill", op)
        with tracing.job_group(sc, f"layout:{op}"):
            with spans.span(f"{op}.layout", f"layout:{op}") as s:
                eb = build(graph, spill_dir=spill)
            out[f"{op}.layout_s"] = s["end"] - s["start"]
            if op == "pagerank":
                out["layout.blocks"], out["layout.block_rows_max_over_min"] = \
                    block_stats(spill)
                with spans.span("kernel.driver_block_arrays",
                                f"layout:{op}") as s:
                    kernel.driver_block_arrays(eb)
                out["kernel.driver_block_arrays_s"] = s["end"] - s["start"]
            kw = wl.PAGERANK_ARGS if op == "pagerank" else {}
            with spans.span(f"{op}.iterate", f"layout:{op}") as s:
                result = iterate(eb, **kw)
                result.count()
            out[f"{op}.iterate_s"] = s["end"] - s["start"]
        eb.unpersist()
        if op == "pagerank":
            ranks = result
        shutil.rmtree(spill)
    probe = ckpt_cls(os.path.join(tmp_root, "state-probe"), "probe")
    with tracing.job_group(sc, "state-probe"):
        for i in range(STATE_PROBE_SAVES):
            probe.save(i, ranks, {"probe": i})


def measure(w, seed, seconds, cpus, tmp_root, convs, traced):
    """Set-up, (traced: layer probes,) the closed loop, then the checks
    against the references. Returns ``(calls, run)``; ``run`` holds what the
    metric builders need besides the calls."""
    import tracing
    import workloads as wl
    from metagraph_spark.state import CheckpointManager

    spans = tracing.Spans()
    event_dir = os.path.join(tmp_root, "eventlog") if traced else None
    ckpt_cls = wl.counting_checkpoint_cls() if traced else CheckpointManager
    spark, graph = wl.setup(w, seed, cpus, tmp_root, spans, ckpt_cls,
                            SETUP_REPS, event_log_dir=event_dir, convs=convs)
    layer = {}
    if traced:
        ckpt_cls.save_seconds.clear()  # warm-up saves are single-superstep
        layer_probes(spark, graph, tmp_root, spans, ckpt_cls, layer)
    calls = wl.closed_loop(w, graph, seconds, tmp_root, spans, ckpt_cls,
                           sc=spark.sparkContext if traced else None)
    run = {"rss_mb": wl.peak_rss_mb(), "spans": spans, "layer": layer,
           "edges": graph.num_edges(), "nodes": graph.num_nodes()}
    ref = wl.references(graph)
    wl.stop_session()
    for c in calls:
        c["correct"] = c["ok"] and wl.check(c, ref)
    if traced:
        run["save_seconds"] = ckpt_cls.save_seconds
        with spans.span("trace.event_log"):
            groups = tracing.event_log_summary(event_dir)
        idle = {"shuffle_write_bytes": 0, "spill_bytes": 0, "spark_busy_s": 0.0}
        for c in calls:
            if c["correct"]:
                c.update(groups.get(c["call_id"], idle))
                c["driver_s"] = c["wall_s"] - c["spark_busy_s"]
    return calls, run


def end_to_end_metrics(calls, run):
    import workloads as wl

    done = [c for c in calls if c["correct"]]

    def times(op):
        return [c["wall_s"] for c in done if c["op"] == op]

    pr_s = wl.median(times("pagerank"))
    supersteps = wl.median([c["supersteps"] for c in done
                            if c["op"] == "pagerank"])
    return {
        "setup_s": metric(wl.median(run["spans"].seconds("setup")), "s"),
        "pagerank_s": metric(pr_s, "s"),
        "cc_s": metric(wl.median(times("cc")), "s"),
        "lpa_s": metric(wl.median(times("lpa")), "s"),
        "pagerank_edges_per_s": metric(run["edges"] * supersteps / pr_s, "1/s"),
        "ops_per_min": metric(
            60.0 * len(done) / sum(c["wall_s"] for c in done)
            if done else math.nan, "1/min"),
        "driver_rss_mb": metric(run["rss_mb"], "MB"),
    }


PER_CALL_UNITS = {"spark_jobs": "count", "spark_stages": "count",
                  "spark_tasks": "count", "failed_tasks": "count",
                  "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
                  "spark_busy_s": "s", "driver_s": "s", "return_s": "s",
                  "emit_s": "s", "wall_s": "s"}


def per_layer_metrics(calls, run):
    import workloads as wl

    spans = run["spans"]
    metrics = {f"{name}_s": metric(wl.median(spans.seconds(name)), "s")
               for name in SETUP_LAYERS}
    for name, value in run["layer"].items():
        unit = ("s" if name.endswith("_s") else
                "ratio" if name.endswith("max_over_min") else "count")
        metrics[name] = metric(value, unit)
    for op in wl.OPS:
        mine = [c for c in calls if c["op"] == op and c["correct"]]
        for key, unit in PER_CALL_UNITS.items():
            name = f"{op}.call_s" if key == "wall_s" else f"{op}.{key}"
            metrics[name] = metric(wl.median([c[key] for c in mine]), unit)
    pr = [c for c in calls if c["op"] == "pagerank" and c["correct"]]
    metrics["pagerank.supersteps"] = metric(
        wl.median([c["supersteps"] for c in pr]), "count")
    metrics["state.save_s"] = metric(wl.median(run["save_seconds"]), "s")
    metrics["state.saves"] = metric(
        wl.median([c.get("state_saves", 0) for c in pr]), "count")
    metrics["state.bytes"] = metric(
        wl.median([c.get("checkpoint_bytes", 0) for c in pr]), "bytes")
    metrics["trace.self_s"] = metric(
        sum(spans.seconds("trace.status")) + sum(spans.seconds("trace.event_log")),
        "s")
    return metrics


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--convs", type=int, default=None,
                   help="override the workload's conversation count "
                        "(smoke tests)")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "metagraph_spark")):
        print(f"no metagraph_spark package next to {HERE}", file=sys.stderr)
        return 2
    # the package must import on the driver AND on Python workers, whatever
    # the working directory (workers inherit the JVM's environment)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x])
    h = host()
    os.environ["SPARK_GRAFT_CPUS"] = h["SPARK_GRAFT_CPUS"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = h["SPARK_GRAFT_DRIVER_MEM"]

    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    w = wl.WORKLOADS[args.workload]

    tmp_parent = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_parent, exist_ok=True)
    tmp_root = tempfile.mkdtemp(prefix=f"{w.name}-{args.seed}-",
                                dir=tmp_parent)
    # every temp file of the driver, the JVM and the Python workers lands
    # under tmp_root (the JVM and workers inherit the environment; Spark's
    # local dirs follow SPARK_LOCAL_DIRS over any spark.local.dir)
    os.environ["TMPDIR"] = tmp_root
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp_root, "spark-local")
    tempfile.tempdir = tmp_root
    t0 = time.perf_counter()
    try:
        calls, run = measure(w, args.seed, args.seconds, h["cpus"], tmp_root,
                             args.convs, bool(args.trace))
        tmp_left_mb = wl.dir_bytes(tmp_root) / 2**20
    finally:
        wl.stop_session()
        shutil.rmtree(tmp_root, ignore_errors=True)
        try:
            os.rmdir(tmp_parent)
        except OSError:
            pass  # another run's root is still there
    left_behind = os.path.exists(tmp_root)

    if args.trace:
        metrics = per_layer_metrics(calls, run)
        run["spans"].write(os.path.join(
            ROOT, ".perfbench_out", f"spans-{w.name}-seed{args.seed}.json"))
    else:
        metrics = end_to_end_metrics(calls, run)
    failed = sum(not c["correct"] for c in calls)
    info = {
        "edges": run["edges"], "nodes": run["nodes"],
        "samples_s": {op: [round(c["wall_s"], 3) for c in calls
                           if c["op"] == op and c["correct"]]
                      for op in wl.OPS},
        "setup_s": {name: round(wl.median(run["spans"].seconds(name)), 3)
                    for name in ("setup",) + SETUP_LAYERS},
        "state_saves": {op: [c["state_saves"] for c in calls
                             if c["op"] == op and "state_saves" in c]
                        for op in wl.OPS},
    }
    print(f"host: {json.dumps(h)}")
    print(f"workload: {w.name} seed={args.seed} trace={args.trace} "
          f"{json.dumps(info)}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']} {m['unit']}")
    print(f"  failed_frac = {failed}/{len(calls)}")
    print(f"temp root: {tmp_left_mb:.1f} MB at end of run, "
          f"left_behind={left_behind} "
          f"run_s={time.perf_counter() - t0:.1f}")
    print(json.dumps({"correct": failed == 0 and not left_behind,
                      "attempted": len(calls), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
