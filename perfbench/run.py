#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload build|query|reason|all \\
        --seed N --seconds S --trace 0|1

Builds nothing: it runs the ``sophia_rs_spark`` package found next to
this directory, in one fresh Spark JVM per workload.  Prints one line per
metric (``name value unit``) and, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--workload all`` runs the three workloads one after another, each in a
process of its own, and prints every metric of each.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.gen import READS  # noqa: E402
from perfbench.workloads import STAGES  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "op_mean_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}

# workloads the benchmark contract runs; ``reason`` runs only on request
# (see BENCHMARK.json's workloads and CHANGES.md for why)
GATED_WORKLOADS = ("build", "query")

SPAN_NAMES = (
    "perfbench.run", "perfbench.setup", "perfbench.warmup", "perfbench.op", "perfbench.check",
    "perfbench.commit", "plans.pipeline", "sparql.query", "sparql.exec", "sparql.update",
)
PER_LAYER = {
    **{f"pipeline.stage_s.{s}": "s" for s in STAGES},
    **{f"pipeline.rows.{s}": "count" for s in STAGES},
    "pipeline.manifest_s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.resume_recomputed_stages": "count",
    "extract.python_total_s": "s",
    "extract.python_boot_s": "s",
    "extract.arrow_bytes_sent": "bytes",
    "extract.arrow_bytes_received": "bytes",
    "extract.quarantine_ratio": "ratio",
    **{f"sources.parse_rate.{f}": "triples/s" for f in ("nt", "ttl", "jsonld", "rdfxml")},
    "graph.dedup_ratio": "ratio",
    "graph.shuffle_write_bytes": "bytes",
    "graph.task_skew": "ratio",
    "terms.rows": "count",
    "linking.cc_s": "s",
    "linking.cc_spark_jobs": "count",
    "sparql.plan_s.new": "s",
    "sparql.plan_s.repeat": "s",
    **{f"sparql.exec_s.{t}": "s" for t in READS},
    "sparql.codegen_compiles": "count",
    "sparql.spark_jobs": "count",
    **{f"sparql.shuffle_bytes.{t}": "bytes" for t in READS},
    "sparql.update_s": "s",
    "spark.gc_s": "s",
    "spark.codegen_compile_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    **{f"self_s.{n}": "s" for n in SPAN_NAMES},
    "trace.wall_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_ratio": "ratio",
}
# per-layer metrics of the ``reason`` workload only
REASON_LAYERS = {
    "linking.cc_rounds": "count",
    "linking.s_per_round": "s",
    "reasoner.rdfs_s": "s",
    "reasoner.rdfs_spark_jobs": "count",
    "reasoner.inferred_rows": "count",
    "reasoner.tc_s": "s",
    "paths.plus_s": "s",
    "paths.plus_spark_jobs": "count",
    **{f"self_s.operators.{n}": "s" for n in ("linking", "reasoner", "paths")},
}


def layer_units(workload: str) -> dict:
    return {**PER_LAYER, **REASON_LAYERS} if workload == "reason" else PER_LAYER


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import session
    from perfbench.trace import Counters, EventLog, RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.time()
            spark = session.start(ROOT, work, event_log=trace)
            t_session = time.time() - t0
            tr = Tracer(spark, enabled=trace)
            wl = WORKLOADS[workload](spark, work, seed, tr)
            with tr.span("perfbench.run") as root:
                with tr.span("perfbench.setup"):
                    t1 = time.time()
                    wl.setup()
                    t_setup = time.time() - t1
                with tr.span("perfbench.warmup"):
                    t_warm = wl.warm_up()
                c0 = Counters(spark).read()
                t_meas = time.time()
                wl.measure(seconds, alternate=trace)
                c1 = Counters(spark).read()
            session.stop(spark)
            spark = None
        out = {
            "e2e": {
                "setup_s": t_session + t_setup + t_warm,
                **wl.e2e(),
                "peak_rss_mb": rss.peak_mb,
            },
            "report": {
                "session_start_s": (t_session, "s"),
                "setup_inputs_s": (t_setup, "s"),
                "warmup_s": (t_warm, "s"),
                **wl.report(),
                "error_rate": (wl.failed / max(1, wl.attempted), "ratio"),
            },
            "attempted": wl.attempted,
            "failed": wl.failed,
            "errors": wl.errors,
            "log": wl.log,
        }
        if trace:
            ev = EventLog(os.path.join(work, "eventlog"))
            layers = {k: 0.0 for k in layer_units(workload)}
            layers.update(wl.layers(ev, tr))
            layers["spark.gc_s"] = c1["gc_s"] - c0["gc_s"]
            layers["spark.codegen_compile_s"] = c1["compile_s"] - c0["compile_s"]
            layers["spark.shuffle_write_bytes"] = float(
                sum(t["shuffle_write"] for t in ev.tasks if t["launch"] >= t_meas)
            )
            for sp in tr.spans:
                layers[f"self_s.{sp.name}"] += tr.self_time(sp)
            layers["trace.wall_s"] = root.dur
            # untraced operations (every second one) have no spans
            layers["trace.coverage"] = sum(
                tr.self_time(s) for s in tr.spans if s is not root
            ) / (root.dur - wl.untraced_s)
            on = [d for d, t in zip(wl.lat, wl.lat_traced) if t]
            off = [d for d, t in zip(wl.lat, wl.lat_traced) if not t]
            if on and off:
                layers["trace.overhead_ratio"] = statistics.median(on) / statistics.median(off)
            out["layers"] = layers
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tr.dump(os.path.join(base, "traces", f"{workload}-{seed}.json"))
        return out
    finally:
        if spark is not None:
            session.stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def emit(res: dict, workload: str, trace: bool) -> None:
    for k, v in res["e2e"].items():
        print(f"{k} {v:.6g} {END_TO_END[k]}")
    for k, (v, unit) in res["report"].items():
        print(f"{k} {v:.6g} {unit}")
    units = layer_units(workload)
    for k, v in res.get("layers", {}).items():
        print(f"{k} {v:.6g} {units[k]}")
    for line in res["log"]:
        print(line)
    for e in res["errors"][:20]:
        print("error:", e.replace("\n", " | "))
    if trace:
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in res["e2e"].items()}
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


def run_all(args) -> int:
    """Each workload in its own process (a fresh JVM); prints every line
    of each, then one combined JSON line with workload-prefixed metrics."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in ("build", "query", "reason"):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"perfbench: workload {w} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        for line in lines[:-1]:
            print(f"{w}.{line}")
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "query", "reason", "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sophia_rs_spark", "__init__.py")):
        print("perfbench: sophia_rs_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    emit(res, args.workload, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
