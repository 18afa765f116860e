"""``linkage`` workload: the record-linkage job as ``jobs/linkage_job.py``
runs it — ``run_linkage`` with a fresh checkpoint directory, then the
``url_clusters`` write and the cluster count — once, in a fresh session,
as the shipped job does: the operation is the session's first job.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext

from suggest_spark.linkage import pipeline
from suggest_spark.linkage.checkpoint import CheckpointedPipeline
from suggest_spark.linkage.pipeline import LinkageConfig
from suggest_spark.sources.synth import PAGES_SCHEMA, make_pages_pdf

from . import oracle, proc
from .trace import self_times

N_ENTITIES = 8000
DUP_RATE = 1.5
ORACLE_ENTITIES = 150
#: output-determining counts at the default seed (42)
GUARD_SEED = 42
GUARDS = {"pages": 20_003, "matches": 3_374, "clusters": 17_181}

STAGE_LAYERS = {
    "records": "linkage.pipeline.records",
    "pairs": "linkage.blocking.pairs",
    "matches": "linkage.scoring.matches",
    "clusters": "linkage.clustering.clusters",
}


def _one_job(spark, pages, work: str, i: int, tracer) -> dict:
    """One operation, exactly as jobs/linkage_job.py: returns its counts."""
    ckpt, out = os.path.join(work, f"ckpt{i}"), os.path.join(work, f"out{i}")
    res = pipeline.run_linkage(spark, pages, LinkageConfig(), ckpt)
    with tracer.span("linkage.output.write") if tracer else nullcontext():
        res["url_clusters"].write.mode("overwrite").parquet(out)
    with tracer.span("linkage.output.count") if tracer else nullcontext():
        n_clusters = res["clusters"].select("cluster_id").distinct().count()
    counts = {e["stage"]: e["rows"] for e in res["_pipeline"].events}
    counts["distinct_clusters"] = n_clusters
    counts["cluster_rounds"] = len(res["cluster_rounds"])
    ckpt_b = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(ckpt) for f in fs
    )
    return {"counts": counts, "res": res, "ckpt": ckpt, "out": out, "ckpt_b": ckpt_b}


def _full_check(spark, res: dict, pages_pdf, out: str, seed: int) -> list[str]:
    """Oracle checks on a job's outputs (outside its timing)."""
    errors = []
    cfg = LinkageConfig()
    matches = [(bytes(r["rid_a"]), bytes(r["rid_b"])) for r in res["res"]["matches"].select("rid_a", "rid_b").collect()]
    expected, rids = oracle.linkage_expected_matches(pages_pdf, cfg.metric, cfg.alpha, ORACLE_ENTITIES)
    got = {(a, b) for a, b in matches if a in rids and b in rids}
    if got != expected:
        errors.append(
            f"linkage: first {ORACLE_ENTITIES} entities: {len(expected - got)} matches missing, "
            f"{len(got - expected)} unexpected"
        )
    url_clusters = [(r["url"], bytes(r["cluster_id"])) for r in spark.read.parquet(out).collect()]
    err = oracle.check_clusters(list(pages_pdf["url"]), url_clusters, matches)
    if err:
        errors.append(f"linkage: {err}")
    if seed == GUARD_SEED:
        c = res["counts"]
        got_counts = {"pages": c["records"], "matches": c["matches"], "clusters": c["distinct_clusters"]}
        if got_counts != GUARDS:
            errors.append(f"linkage: seed {seed} counts {got_counts} != {GUARDS}")
    return errors


def run(spark, ctx) -> dict:
    """``ctx``: seed, seconds, work, tracer (or None), session_s,
    mem_checkpoint."""
    tracer, work = ctx["tracer"], ctx["work"]
    if tracer:
        tracer.wrap(pipeline, "run_linkage", "linkage.run")
        tracer.wrap(
            CheckpointedPipeline, "run_stage",
            lambda self, name, *a, **k: STAGE_LAYERS[name], py_cpu=True,
        )

    t0 = time.perf_counter()
    with tracer.span("setup.input") if tracer else nullcontext():
        pages_pdf = make_pages_pdf(N_ENTITIES, DUP_RATE, ctx["seed"])
        pages_dir = os.path.join(work, "pages")
        spark.createDataFrame(pages_pdf, schema=PAGES_SCHEMA).write.mode("overwrite").parquet(pages_dir)
        pages = spark.read.parquet(pages_dir)
    input_s = time.perf_counter() - t0
    ctx["mem_checkpoint"]()

    errors: list[str] = []
    c0, t0 = proc.tree_cpu_s(), time.perf_counter()
    try:
        with tracer.span("op", op="1") if tracer else nullcontext():
            job = _one_job(spark, pages, work, 1, tracer)
    except Exception as e:  # a job that raises is a failed operation
        errors.append(f"linkage: {e!r}"[:300])
        job = None
    wall = time.perf_counter() - t0
    cpu = proc.tree_cpu_s() - c0
    ctx["mem_checkpoint"]()  # the job's outputs are still referenced
    if job is not None:
        errors += _full_check(spark, job, pages_pdf, job["out"], ctx["seed"])
    attempted, failed = 1, 1 if errors else 0
    want = job["counts"] if job else {}

    # What tracing costs, measured on warm jobs: one untimed job (the second
    # job of a session is still ~30% slower), then a traced job between two
    # untraced ones, which cancels a trend that is still settling.  Each job
    # must reproduce the first job's counts.
    walls: dict[bool, list[float]] = {False: [], True: []}
    for i, traced in enumerate((None, False, True, False), start=2) if tracer and job else ():
        attempted += 1
        tracer.enabled = bool(traced)
        w0 = time.perf_counter()
        try:
            with tracer.span("op", op=str(i)) if traced else nullcontext():
                extra = _one_job(spark, pages, work, i, tracer)
        except Exception as e:
            failed += 1
            errors.append(f"linkage job {i}: {e!r}"[:300])
            break
        if traced is not None:
            walls[traced].append(time.perf_counter() - w0)
        if extra["counts"] != want:
            failed += 1
            errors.append(f"linkage job {i}: counts {extra['counts']} != first job {want}")
    if tracer:
        tracer.enabled = True
    overhead: dict[str, float] = {}
    if walls[True] and walls[False]:
        traced_s, untraced_s = statistics.median(walls[True]), statistics.median(walls[False])
        overhead = {"trace.op_p50_ms": traced_s * 1e3, "trace.untraced_op_p50_ms": untraced_s * 1e3,
                    "trace.overhead_ratio": traced_s / untraced_s - 1}

    n_pages = want.get("records", 0)
    setup = {"setup.input_s": input_s}
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "e2e": {
            "op_p50_ms": wall * 1e3,
            "items_per_s": n_pages / wall,
            "op_cpu_s": cpu,
            "setup_s": ctx["session_s"] + input_s,
        },
        "summary": {
            "linkage.pages_per_s": n_pages / wall,
            "linkage.job_s": wall,
            "linkage.cpu_s": cpu,
            **setup,
            "counts": want,
            "loop": "closed, one caller, one job per session",
        },
        "setup": setup,
        "layers_fn": (
            (lambda ev: {**layers(tracer, ev, want, job["ckpt_b"]), **overhead}) if tracer and job else None
        ),
    }


def layers(tracer, ev: dict, counts: dict, ckpt_b: float) -> dict:
    """Per-layer metrics of the traced run: those of its first job (the
    operation), and the smallest coverage of any traced job."""
    spans = [s for s in tracer.spans if s["op"] is not None]
    st = self_times(spans)
    groups = ev["groups"]

    def g(span, key):
        return groups.get(span["group"], {}).get(key, 0)

    ops: dict[str, dict] = {}
    for s in spans:
        ops.setdefault(s["op"], {}).setdefault(s["name"], []).append(s)
    per_op = {}
    for op, d in ops.items():
        root = d["op"][0]
        m = {"wall": root["end"] - root["start"]}
        for stage, layer in STAGE_LAYERS.items():
            s = d[layer][0]
            m[f"{layer}.wall_s"] = st[s["id"]]
            for k in ("cpu_s", "shuffle_b", "spill_b"):
                m[f"{layer}.{k}"] = g(s, k)
            m[f"{layer}.py_cpu_s"] = s.get("py_cpu_s", 0.0)
        run = d["linkage.run"][0]
        records = d[STAGE_LAYERS["records"]][0]
        # run_linkage's own time before the pairs stage starts: the
        # persisted encode_records and the delta_max job
        m["linkage.blocking.encode.wall_s"] = (
            d[STAGE_LAYERS["pairs"]][0]["start"] - run["start"] - (records["end"] - records["start"])
        )
        m["linkage.blocking.encode.cpu_s"] = g(run, "cpu_s")
        m["linkage.blocking.encode.shuffle_b"] = g(run, "shuffle_b")
        m["linkage.output.write_s"] = st[d["linkage.output.write"][0]["id"]]
        # named layers only: run_linkage's time between and after the
        # stages and the benchmark's own code between the calls are not
        named = [f"{layer}.wall_s" for layer in STAGE_LAYERS.values()]
        named += ["linkage.blocking.encode.wall_s", "linkage.output.write_s"]
        covered = sum(m[k] for k in named) + st[d["linkage.output.count"][0]["id"]]
        m["coverage"] = covered / m["wall"]
        groups_of_op = {s["group"] for ss in d.values() for s in ss}
        m["linkage.spark.jobs"] = sum(job["group"] in groups_of_op for job in ev["jobs"])
        # checkpoint IO: in each stage span, the parquet write jobs, then the
        # jobs after the last write (the count, checksum and per-file passes)
        wr = vf = 0.0
        for layer in STAGE_LAYERS.values():
            jobs = [j for j in ev["jobs"] if j["group"] == d[layer][0]["group"] and j["end"]]
            writes = [j for j in jobs if "Writer" in j["action"]]
            w_end = max((j["end"] for j in writes), default=None)
            wr += sum(j["end"] - j["start"] for j in writes)
            if w_end is not None:
                vf += sum(j["end"] - j["start"] for j in jobs if j["start"] >= w_end)
        m["linkage.checkpoint.write_s"] = wr
        m["linkage.checkpoint.verify_s"] = vf
        per_op[op] = m

    out = dict(per_op["1"])
    out["trace.coverage"] = min(m["coverage"] for m in per_op.values())
    out.pop("coverage")
    out.pop("wall")
    for stage, layer in STAGE_LAYERS.items():
        out[f"{layer}.rows"] = counts[stage]
    out["linkage.clustering.clusters.rounds"] = counts["cluster_rounds"]
    out["linkage.scoring.survival"] = counts["matches"] / max(counts["pairs"], 1)
    out["linkage.checkpoint.bytes"] = ckpt_b
    return out
