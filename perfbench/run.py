#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload corpus-dedup --seed 1 --seconds 8 --trace 0

Run from the repository root (or anywhere: paths are resolved from this
file).  The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}`` with every ``end_to_end``
metric of ``BENCHMARK.json`` (``--trace 0``) or every ``per_layer`` metric
(``--trace 1``).  The line before it is the report: the workload's own named
figures and the stamp (machine, versions, source).  Exit code 0 when every
correctness check passed, 1 when one failed, 2 when the benchmark cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
SPARK_LAYERS = ("session", "io", "pipeline", "minhash", "cc", "match", "stream")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _emit(spec_metrics: list[dict], values: dict) -> dict:
    """Every metric of the spec list, with its unit; a missing one raises."""
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in spec_metrics}


def untraced(wl, run) -> tuple[dict, dict, int, int, bool]:
    from perfbench import harness, workloads

    # the inputs are made: from here the driver's high-water mark is the
    # program's
    harness.reset_peak_rss()
    # one untimed operation first: the first one in a session pays JIT,
    # code generation and Python-worker first-touch costs
    t0 = time.perf_counter()
    wl.op()
    named = {"warm_up_op_s": (time.perf_counter() - t0, "s")}
    walls, items, failed = workloads.measure_ops(run.seconds, wl.op, wl.min_ops)
    attempted = len(walls)
    # the median operation's rate: one slow operation (a GC pause, a busy
    # neighbour on the host) does not move it
    items_per_s = statistics.median(n / w for n, w in zip(items, walls))
    rss = harness.peak_rss_mb(run.spark)
    named.update({wl.items_metric: (items_per_s, "1/s"), "ops_measured": (attempted, "count"),
                  "op_walls_ms": ([w * 1e3 for w in walls], "ms"),
                  "jvm_peak_rss_mb": (rss["jvm"], "MB"),
                  "peak_rss_mb": (rss["py"] + rss["jvm"], "MB")})
    values = {"items_per_s": items_per_s, "py_peak_rss_mb": rss["py"],
              "op_success_share": (attempted - failed) / attempted, "quality_share": 0.0}
    correct = False
    if wl.last is not None:
        correct, checked, quality = wl.check()
        named.update(checked)
        values["quality_share"] = quality
    return values, named, attempted, failed, correct and failed == 0


def traced(wl, run) -> tuple[dict, dict, int, int, bool]:
    from perfbench import harness, kernels, stats, workloads

    values = dict.fromkeys((m["name"] for m in _spec()["per_layer"]), 0.0)
    wl.op()  # warm-up, as in the untraced run
    # the same operation untraced: the traced sequence's wall minus this
    # one is the tracing overhead
    t0 = time.perf_counter()
    wl.op()
    values["trace.untraced_op_s"] = time.perf_counter() - t0
    values.update(wl.untraced_layers())

    tracer = harness.Tracer(run.spark)
    t0 = time.perf_counter()
    values.update(wl.traced(tracer))
    values["trace.wall_s"] = time.perf_counter() - t0
    values["trace.overhead_s"] = values["trace.wall_s"] - values["trace.untraced_op_s"]
    values["trace.labeled_share"] = sum(tracer.walls.values()) / values["trace.wall_s"]
    named = {f"label.{k}_s": (v, "s") for k, v in tracer.walls.items()}
    correct, failed, aliases, replay = True, 0, {}, None
    if wl.name == "corpus-dedup":
        # the streaming layer: a replay beside the batch job, outside its
        # traced wall; its batches run under the query's run id
        replay = workloads.StreamReplay(run)
        failed = replay.window(run.seconds)
        aliases[replay.run_id] = "stream"
        correct, stream_named, stream_layers = replay.figures()
        named.update(stream_named)
        values.update(stream_layers)
    app_id = run.spark.sparkContext.applicationId
    values.update(kernels.kernel_figures(run.seed))
    run.spark.stop()
    with open(os.path.join(run.work, "events", app_id)) as f:
        ev = stats.EventLogReduction(f, aliases)
    for layer in SPARK_LAYERS:
        for fig, v in ev.figures(layer).items():
            values[f"spark.{layer}.{fig}"] = v
    values.update(wl.from_event_log(ev))
    if replay is not None:
        values["stream.tasks_per_batch"] = ev.tasks("stream") / len(replay.progress)
    return values, named, 1, failed, correct and failed == 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the processes it started (see main's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "fuzzy_matching_spark")):
        print("perfbench: the fuzzy_matching_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    try:
        return _run(args, work)
    finally:
        # the JVM and the Python workers end before their files go
        if "pyspark" in sys.modules:
            from perfbench import harness

            harness.shut_down()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench import harness

    conf = harness.prepare_env(ROOT, work)
    if args.trace:
        conf.update(harness.event_log_conf(work))
    from perfbench import workloads

    spec = _spec()
    run = SimpleNamespace(root=ROOT, work=work, cache=os.path.join(BENCH_DIR, ".cache"),
                          seed=args.seed, seconds=args.seconds, spark=None)
    spark, setup = harness.set_up(conf)
    run.spark = spark
    spark.sparkContext.setCheckpointDir(os.path.join(work, "checkpoints"))
    stamp = harness.stamp(ROOT, spark)
    wl = workloads.WORKLOADS[args.workload](run)
    if args.trace:
        values, named, attempted, failed, correct = traced(wl, run)
        values.update({k: v for k, v in setup.items() if k != "setup_s"})
        metrics = _emit(spec["per_layer"], values)
    else:
        values, named, attempted, failed, correct = untraced(wl, run)
        spark.stop()
        values["setup_s"] = setup["setup_s"]
        named.update({"setup_s": (setup["setup_s"], "s"),
                      "py_peak_rss_mb": (values["py_peak_rss_mb"], "MB"),
                      "failed_op_share": (failed / attempted, "share")})
        metrics = _emit(spec["end_to_end"], values)
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "stamp": stamp,
              "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()}}
    result = {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
              "metrics": metrics}
    out_dir = os.path.join(BENCH_DIR, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({**report, **result}, f, indent=1)
    print(json.dumps({"report": report}))
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
