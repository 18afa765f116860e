"""Benchmark of the shipped suggest_spark code paths.

    python3 perfbench/run.py --workload linkage|serve_mixed --seed N \\
        --seconds S --trace 0|1

Run from the repository root.  Inputs are generated from ``--seed``; every
workload checks its outputs against brute-force oracles.  Standard output
ends with a compact summary line and then one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``metrics`` holds the
end-to-end metrics with ``--trace 0`` and the per-layer metrics of a
separately traced run with ``--trace 1``.  The full per-layer table and
the spans go to ``.perfbench/results/``.  See BENCHMARK.json for the
workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "op_cpu_s": "s",
    "mem_mb": "MiB",
    "setup_s": "s",
}

_LINKAGE_LAYERS = [
    f"linkage.{layer}.{m}"
    for layer, ms in (
        ("pipeline.records", ("wall_s", "cpu_s", "rows")),
        ("blocking.encode", ("wall_s", "cpu_s", "shuffle_b")),
        ("blocking.pairs", ("wall_s", "cpu_s", "shuffle_b", "spill_b", "rows")),
        ("scoring.matches", ("wall_s", "cpu_s", "py_cpu_s", "shuffle_b", "rows")),
        ("clustering.clusters", ("wall_s", "cpu_s", "rounds", "rows")),
        ("checkpoint", ("write_s", "verify_s", "bytes")),
        ("output", ("write_s",)),
    )
    for m in ms
] + ["linkage.scoring.survival", "linkage.spark.jobs"]

_SERVE_LAYERS = [
    "service.suggest_batch.driver_s", "service.suggest_batch.create_df_s", "suggest.plan.build_s",
    "suggest.plan.wall_s", "suggest.plan.cpu_s", "suggest.plan.py_cpu_s",
    "suggest.plan.shuffle_b", "suggest.plan.spill_b", "suggest.plan.jobs",
    "suggest.plan.match_rows", "suggest.plan.pair_rows", "suggest.plan.candidate_rows",
    "suggest.plan.countfilter_pass", "suggest.plan.result_rows",
    "coalesce.queue_wait_ms.p50", "coalesce.queue_wait_ms.p95",
    "coalesce.batch_size", "coalesce.batches",
    "replica.suggest_ms.p50", "replica.suggest_ms.p95", "replica.autocomplete_ms.p50",
    "http_api.overhead_ms.p50",
    "loadgen.late_ms.p95", "loadgen.sent", "loadgen.ok", "loadgen.failed",
    "serve.read_p50_ms", "serve.read_p95_ms", "serve.read_quiet_p50_ms", "serve.slo_ratio",
    "serve.upsert_s",
    "versioned.index_upsert_s", "versioned.dict_upsert_s", "versioned.dict_write_s",
    "versioned.rows_written_per_doc", "versioned.sizes_touched",
    "replica.patch_ms", "service.upsert.other_s",
]

_SETUP_LAYERS = [
    "setup.session_s", "setup.input_s", "setup.index_build_s",
    "setup.stats_s", "setup.warm_s", "setup.replica_build_s", "setup.first_upsert_s",
]

_MEM_LAYERS = ["mem.peak_rss_mb", "mem.python_peak_mb", "mem.jvm_retained_mb"]

_TRACE_LAYERS = [
    "trace.coverage", "trace.op_p50_ms", "trace.untraced_op_p50_ms", "trace.overhead_ratio",
]
#: layer self times must cover this share of every operation's wall time
COVERAGE_MIN = 0.9


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith(("_ms", "_ms.p50", "_ms.p95")):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_b", ".bytes")):
        return "B"
    if name.endswith(("survival", "countfilter_pass", "slo_ratio", "coverage", "overhead_ratio")):
        return "ratio"
    return "count"


def _number(v) -> float:
    """A finite float: an operation that never completed reads 0."""
    v = float(v)
    return v if math.isfinite(v) else 0.0


LAYER_NAMES = _LINKAGE_LAYERS + _SERVE_LAYERS + _SETUP_LAYERS + _MEM_LAYERS + _TRACE_LAYERS


def _preflight() -> str | None:
    for need in ("suggest_spark/__init__.py", "jobs/linkage_job.py", "jobs/http_service_job.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return f"perfbench: {need} not found under {ROOT}; run from a full checkout"
    return None


def _start_spark(work: str, trace: bool):
    from suggest_spark.plans.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        })
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus


def _stop_spark(spark, proc) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and its Python workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    children = [p for p in proc.tree_pids() if p != os.getpid()]
    jvm = getattr(gateway, "proc", None)
    if jvm is not None:
        jvm.stdin.close()  # the gateway exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    # Python workers the JVM forked end with it; wait for each, then kill
    deadline = time.time() + 10
    for pid in children:
        while proc.alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if proc.alive(pid):
            os.kill(pid, signal.SIGKILL)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["linkage", "serve_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    err = _preflight()
    if err:
        print(err, file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    results = os.path.join(ROOT, ".perfbench", "results")
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    for d in (work, results, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from perfbench import linkage_wl, proc, serve_wl
    from perfbench.trace import Tracer, parse_event_log

    rss = proc.RssSampler().start()
    t0 = time.perf_counter()
    spark, cpus = _start_spark(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext) if args.trace else None
    retained: list[float] = []
    # the workload calls this, outside its timings, where what the program
    # holds is the same in every run (see proc.jvm_retained_mb)
    def mem_checkpoint() -> None:
        retained.append(proc.jvm_retained_mb(spark))

    ctx = {"seed": args.seed, "seconds": args.seconds, "work": work,
           "tracer": tracer, "session_s": session_s, "mem_checkpoint": mem_checkpoint}
    wl = linkage_wl if args.workload == "linkage" else serve_wl
    try:
        out = wl.run(spark, ctx)
    finally:
        rss.stop()
        _stop_spark(spark, proc)
        if tracer:
            tracer.unwrap_all()

    tag = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    mem = {"mem.peak_rss_mb": rss.peak_mb, "mem.python_peak_mb": rss.peak_python_mb,
           "mem.jvm_retained_mb": max(retained, default=0.0)}
    e2e = dict(out["e2e"], mem_mb=mem["mem.python_peak_mb"] + mem["mem.jvm_retained_mb"])
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "cpus": cpus, **mem, "setup.session_s": session_s, **out["summary"],
               "mem.jvm_retained_mb.checkpoints": [round(r, 1) for r in retained],
               **{f"mem.peak_rss_mb.{k}": v for k, v in rss.peak_parts.items()}}
    if args.trace:
        ev = parse_event_log(os.path.join(work, "events"))
        layers = {"setup.session_s": session_s, **out["setup"], **mem}
        if out["layers_fn"]:  # None when the operation itself failed
            layers.update(out["layers_fn"](ev))
        tracer.write(os.path.join(results, f"{tag}_spans.json"))
        with open(os.path.join(results, f"{tag}_jobs.json"), "w") as f:
            json.dump(ev["jobs"], f)
        for k in ("trace.coverage", "trace.overhead_ratio"):
            summary[k] = layers.get(k, 0.0)
        if summary["trace.coverage"] < COVERAGE_MIN:
            # layers that do not explain an operation's time: the traced
            # run's attribution is wrong, which fails the run
            out["failed"] += 1
            out["errors"].append(
                f"trace: layer self times cover {summary['trace.coverage']:.3f} "
                f"of an operation's wall time, below {COVERAGE_MIN}"
            )
        metrics = {n: {"value": _number(layers.get(n, 0.0)), "unit": _unit(n)} for n in LAYER_NAMES}
    else:
        metrics = {n: {"value": _number(e2e[n]), "unit": u} for n, u in E2E_UNITS.items()}
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({"summary": summary, "metrics": metrics, "errors": out["errors"]}, f, indent=1, default=str)

    correct = not out["errors"] and out["failed"] == 0
    compact = {k: (round(v, 4) if isinstance(v, float) else v)
               for k, v in summary.items() if not isinstance(v, (dict, list))}
    compact["errors"] = len(out["errors"])
    for e in out["errors"][:3]:
        print(f"perfbench error: {e}", file=sys.stderr)
    print("perfbench summary " + json.dumps(compact)[:900])
    print(json.dumps({
        "correct": correct,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
