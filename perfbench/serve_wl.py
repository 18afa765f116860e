"""``serve_mixed`` workload: the suggest service as
``jobs/http_service_job.py`` boots it, measured in two phases on one boot.

* Phase A, closed loop, one caller: ``SuggestService.suggest_batch`` of
  ``BATCH`` misspelled queries on the warm entry before its hot replica
  exists — the Spark plan a coalesced group runs for an entry too big for a
  replica (query grams → posting join → CountFilter → top-k window).
* Phase B, open loop at ``RATE`` requests/s from one generator thread and at
  most ``WORKERS`` worker threads, through ``create_app(coalesce=True)`` and
  Flask's test client, after ``enable_hot_replica``: one request in five is
  ``/autocomplete``, the rest ``/suggest``.  After the quiet reads a writer
  thread runs one 100-document ``upsert_disc_index``, and reads go on until
  it has returned.  Set-up ends with one upsert of its own, so the measured
  one is a steady-state trickle upsert.
"""

from __future__ import annotations

import json
import os
import queue
import statistics
import threading
import time
from contextlib import nullcontext
from urllib.parse import quote

import numpy as np

from suggest_spark.functions.metrics import COSINE
from suggest_spark.operators import service as service_mod
from suggest_spark.operators import versioned
from suggest_spark.serving import create_app, http_api, replica
from suggest_spark.serving.coalesce import RequestCoalescer
from suggest_spark.sources.synth import cars_synth

from . import oracle, proc

N_DICT = 12_000
BATCH = 64
#: queries of each batch checked against the oracle
CHECKED_PER_BATCH = 4
MIN_BATCHES = 3
#: timed batches per second of ``--seconds``: about 0.8 of the time on a
#: 4-CPU host.  A count, not a time: batches still get cheaper one after
#: another, so a median over however many fit in a time would depend on
#: how fast the host ran
A_BATCHES_PER_S = 0.6
#: untimed (but checked) batches first: the first ones still pay JIT and
#: code generation
WARMUP_BATCHES = 2
RATE = 10.0
WORKERS = 4
WARMUP_S = 1.0
#: the first is part of set-up, the second is measured in phase B
UPSERTS = 2
UPSERT_DOCS = 100
SLO_MS = 250.0
#: share of phase-B responses checked against the oracle
CHECK_SHARE = 0.2
ALPHA, TOPK = 0.5, 5
#: output-determining facts at the default seed (42)
GUARD_SEED = 42
GUARDS = {"postings": 170_168, "plan": "plain"}
DESC = {
    "driver": "DISC", "name": "words", "nGramSize": 3,
    "alphabet": ["english", "russian", "numbers", "$"], "source": "words.dict",
    "output": "db", "pad": "$", "wrap": ["$", "$"],
}


def _misspell(rng: np.random.RandomState, s: str) -> str:
    chars = list(s)
    i = rng.randint(1, max(2, len(chars) - 1))
    op = rng.randint(3)
    if op == 0:
        chars[i] = "abcdefghijklmnopqrstuvwxyz"[rng.randint(26)]
    elif op == 1:
        del chars[i]
    else:
        chars[i], chars[i - 1] = chars[i - 1], chars[i]
    return "".join(chars)


def _pct(values: list[float], p: float) -> float:
    return float(np.percentile(values, p)) if values else 0.0


def _inputs(seed: int) -> dict:
    """Dictionary values, query streams, upsert batches, and the oracle over
    the base dictionary plus every upsert (gated by doc_id)."""
    rng = np.random.RandomState(seed)
    words = cars_synth(N_DICT, seed)
    base = set(words)
    extra = [w for w in cars_synth(N_DICT + UPSERTS * UPSERT_DOCS * 2, seed + 1) if w not in base]
    ups = []
    for u in range(UPSERTS):
        vals = extra[u * UPSERT_DOCS:(u + 1) * UPSERT_DOCS]
        ups.append([(N_DICT + u * UPSERT_DOCS + j, v) for j, v in enumerate(vals)])
    orc = oracle.SuggestOracle()
    for d, w in enumerate(words):
        orc.add(d, w)
    for batch in ups:
        for d, v in batch:
            orc.add(d, v)
    n_reads = int(RATE * 200) + 1000
    picks = rng.randint(0, N_DICT, size=n_reads)
    return {
        "words": words,
        "upserts": ups,
        "oracle": orc,
        "batches": [
            [_misspell(rng, words[j]) for j in rng.randint(0, N_DICT, size=BATCH)]
            for _ in range(200)
        ],
        "reads": [
            ("autocomplete", words[j][: 3 + rng.randint(4)]) if i % 5 == 0
            else ("suggest", _misspell(rng, words[j]))
            for i, j in enumerate(picks)
        ],
        "check": rng.rand(n_reads) < CHECK_SHARE,
    }


def _write_config(work: str, words: list[str]) -> str:
    with open(os.path.join(work, "words.dict"), "w") as f:
        f.write("\n".join(words) + "\n")
    path = os.path.join(work, "config.json")
    with open(path, "w") as f:
        json.dump([DESC], f)
    return path


def _url(kind: str, q: str) -> str:
    if kind == "autocomplete":
        return f"/autocomplete/words/{quote(q)}/?topK={TOPK}"
    return f"/suggest/words/{quote(q)}/?metric=Cosine&similarity={ALPHA}&topK={TOPK}"


def _expected(orc, kind: str, q: str, limit: int):
    if kind == "autocomplete":
        return [(0.0, v) for v in orc.autocomplete(q, TOPK, limit)]
    return orc.suggest(q, COSINE, ALPHA, TOPK, limit)


def run(spark, ctx) -> dict:
    tracer, work, seed = ctx["tracer"], ctx["work"], ctx["seed"]
    inp = _inputs(seed)
    orc = inp["oracle"]
    errors: list[str] = []
    span = tracer.span if tracer else (lambda *a, **k: nullcontext())
    if tracer:
        S = service_mod.SuggestService
        tracer.wrap(http_api, "service_from_config", "setup.index_build")
        tracer.wrap(S, "refresh_stats", "setup.stats")
        tracer.wrap(S, "warm", "setup.warm")
        tracer.wrap(S, "enable_hot_replica", "setup.replica_build")
        tracer.wrap(S, "suggest_batch", "service.suggest_batch")
        tracer.wrap(S, "upsert_disc_index", "service.upsert")
        tracer.wrap(versioned, "upsert_versioned_index", "versioned.index_upsert")
        # the first upsert after boot writes the whole bucketed dictionary
        # sibling, later ones rewrite only the buckets they touch
        tracer.wrap(versioned, "write_versioned_bucketed_table", "versioned.dict_write")
        tracer.wrap(versioned, "upsert_versioned_bucketed_table", "versioned.dict_upsert")
        for attr in ("suggest", "autocomplete", "patched"):
            tracer.wrap(replica.HotReplica, attr, f"replica.{attr}", jobs=False)
    setup: dict[str, float] = {}

    t0 = time.perf_counter()
    cfg_path = _write_config(work, inp["words"])
    setup["setup.input_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    service, reindex_job = http_api.service_from_config(spark, cfg_path)
    setup["setup.index_build_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    service.warm("words")
    setup["setup.warm_s"] = time.perf_counter() - t0
    stats = service._get("words").stats
    facts = {"postings": stats.num_postings if stats else None, "plan": _plan(stats) if stats else None}
    if seed == GUARD_SEED and facts != GUARDS:
        errors.append(f"serve: seed {seed} index facts {facts} != {GUARDS}")
    ctx["mem_checkpoint"]()

    # ---- phase A: Spark-path batches, closed loop ---------------------------
    # A traced run alternates traced and untraced batches; the untraced ones
    # give the tracing overhead.  The driver-side parts of a batch are
    # traced in phase A only: the upserts call the same Spark methods.
    a_parts = [(type(spark), "createDataFrame", "service.suggest_batch.create_df"),
               (service_mod, "suggest_topk_auto", "suggest.plan.build"),
               (type(spark.range(0)), "collect", "suggest.plan.collect")]
    if tracer:
        for owner, attr, name in a_parts:
            tracer.wrap(owner, attr, name)
    a_walls, a_cpus, a_failed, a_rows, untraced = [], [], 0, [], []

    n_timed = max(MIN_BATCHES, round(ctx["seconds"] * A_BATCHES_PER_S))

    def enough() -> bool:
        done = len(a_walls) >= n_timed and (tracer is None or len(untraced) >= n_timed)
        return done or a_failed >= MIN_BATCHES

    b = 0
    while b < len(inp["batches"]) and not enough():
        timed = b >= WARMUP_BATCHES
        traced = tracer is not None and timed and b % 2 == 0
        if tracer:
            tracer.enabled = traced
        qs = inp["batches"][b]
        c0, w0 = proc.tree_cpu_s(), time.perf_counter()
        try:
            with span("op", op=f"A{b}", py_cpu=True):
                got = service.suggest_batch("words", qs, COSINE, ALPHA, TOPK)
        except Exception as e:
            a_failed += 1
            errors.append(f"batch {b}: {e!r}"[:300])
            b += 1
            continue
        if timed and tracer is not None and not traced:
            untraced.append(time.perf_counter() - w0)
        elif timed:
            a_walls.append(time.perf_counter() - w0)
            a_cpus.append(proc.tree_cpu_s() - c0)
            a_rows.append(sum(len(r) for r in got))
        for j in range(CHECKED_PER_BATCH):
            q = qs[(j * BATCH) // CHECKED_PER_BATCH]
            want = orc.suggest(q, COSINE, ALPHA, TOPK, N_DICT)
            if not oracle.same_results(got[qs.index(q)], want):
                a_failed += 1
                errors.append(f"batch {b}: {q!r} -> {got[qs.index(q)]} != {want}")
                break
        b += 1
    if tracer:
        tracer.enabled = True
        for owner, attr, _ in a_parts:
            tracer.unwrap(owner, attr)

    t0 = time.perf_counter()
    service.enable_hot_replica("words")
    setup["setup.replica_build_s"] = time.perf_counter() - t0

    coalesce_log = _CoalesceProbe() if tracer else None
    app = create_app(service, reindex_job, coalesce=True)
    app.testing = True
    gen = [0]  # upserts completed, for the read-your-state oracle check
    reads = _OpenLoop(app, inp, gen)
    up_walls, up_stats, up_failed = [], [], 0

    def upsert(u: int) -> None:
        nonlocal up_failed
        batch = inp["upserts"][u]
        df = spark.createDataFrame(batch, "doc_id long, value string")
        reads.phase = f"upsert{u}"
        t = time.perf_counter()
        try:
            with span("upsert", op=f"U{u}"):
                st = service.upsert_disc_index("words", df)
        except Exception as e:
            reads.phase = "after"
            up_failed += 1
            errors.append(f"upsert {u}: {e!r}"[:300])
            return
        up_walls.append(time.perf_counter() - t)
        up_stats.append(st)
        gen[0] = u + 1
        reads.phase = "after"  # only now: a read tagged "after" sees gen >= u + 1
        # the upsert is visible: one of its values answers its own query
        v = batch[len(batch) // 2][1]
        r = app.test_client().get(_url("suggest", v))
        if r.status_code != 200 or v not in [it["Value"] for it in r.get_json()]:
            up_failed += 1
            errors.append(f"upsert {u}: {v!r} not served after the upsert")

    # set-up ends with one upsert: it writes the dictionary's bucketed
    # sibling in full, so the measured upsert takes the incremental path
    t0 = time.perf_counter()
    upsert(0)
    setup["setup.first_upsert_s"] = up_walls[0] if up_walls else time.perf_counter() - t0
    setup_s = ctx["session_s"] + sum(setup.values())
    ctx["mem_checkpoint"]()

    # ---- phase B: HTTP service, open loop, one upsert -----------------------
    reads.run(WARMUP_S, phase="warmup")
    c0 = proc.tree_cpu_s()
    # quiet reads for --seconds: they give ``op_p50_ms`` (reads during the
    # upsert spread too widely run to run)
    reads.run(ctx["seconds"], phase="quiet")
    wt = threading.Thread(target=upsert, args=(1,), name="upsert-writer")
    wt.start()
    reads.run(0, phase="upsert1", until=wt)
    wt.join()
    read_cpu = proc.tree_cpu_s() - c0
    ctx["mem_checkpoint"]()

    # ---- checks of the sampled responses -----------------------------------
    n_up = len(inp["upserts"])
    limits = [N_DICT + u * UPSERT_DOCS for u in range(n_up + 1)]
    bad = 0
    for rec in reads.records:
        if rec["phase"] == "warmup" or not rec["check"] or rec["status"] != 200:
            continue
        # a read made while an upsert ran may see its state before or after
        hi = rec["gen1"] + rec["phase"].startswith("upsert")
        ok = any(
            oracle.same_results(rec["body"], _expected(orc, rec["kind"], rec["q"], limits[g]))
            for g in range(rec["gen0"], min(hi, n_up) + 1)
        )
        if not ok:
            bad += 1
            if bad <= 3:
                errors.append(f"read {rec['kind']} {rec['q']!r}: {rec['body']} wrong")
    measured = [r for r in reads.records if r["phase"] != "warmup"]
    ok_lat = [r["lat_ms"] for r in measured if r["status"] == 200]
    quiet_lat = [r["lat_ms"] for r in measured if r["phase"] == "quiet" and r["status"] == 200]
    n_fail = sum(r["status"] != 200 for r in reads.records)
    slo = sum(r["status"] == 200 and r["lat_ms"] <= SLO_MS for r in measured) / max(len(measured), 1)
    qps = [BATCH / w for w in a_walls]

    accounting = {}
    for r in reads.records:
        a = accounting.setdefault(r["phase"], {"sent": 0, "ok": 0, "failed": 0, "lat": []})
        a["sent"] += 1
        a["ok"] += r["status"] == 200
        a["failed"] += r["status"] != 200
        a["lat"].append(r["lat_ms"])
    for a in accounting.values():
        lat = a.pop("lat")
        a["p50_ms"], a["p95_ms"] = round(_pct(lat, 50), 3), round(_pct(lat, 95), 3)
    late = [r["late_ms"] for r in measured]
    summary = {
        "suggest.queries_per_s": statistics.median(qps) if qps else None,
        "suggest.cpu_s": statistics.median(a_cpus) if a_cpus else None,
        "suggest.batches": len(a_walls),
        "suggest.batch_walls_s": [round(w, 3) for w in a_walls],
        "suggest.batch_cpus_s": [round(c, 2) for c in a_cpus],
        "suggest.plan": facts["plan"],
        "serve.read_p50_ms": _pct(ok_lat, 50),
        "serve.read_p95_ms": _pct(ok_lat, 95),
        "serve.read_quiet_p50_ms": _pct(quiet_lat, 50),
        "serve.slo_ratio": slo,
        "serve.upsert_s": up_walls[-1] if len(up_walls) == n_up else None,
        "serve.read_cpu_s": read_cpu,
        "serve.reads": len(measured),
        "loadgen.accounting": accounting,
        # sent/ok/failed per phase, for the compact summary line
        "loadgen.phases": " ".join(f"{k} {a['sent']}/{a['ok']}/{a['failed']}" for k, a in accounting.items()),
        "loadgen.late_ms.p95": _pct(late, 95),
        "versioned.rows_written": [s["rows_written"] for s in up_stats],
        "loop": f"phase A closed, one caller; phase B open, {RATE:g} req/s, <= {WORKERS} workers",
        "postings": facts["postings"],
        **setup,
    }
    # batches + reads + (upsert, its visibility check) + the index build
    attempted = b + len(reads.records) + 2 * n_up + 1
    failed = a_failed + n_fail + bad + up_failed + (1 if seed == GUARD_SEED and facts != GUARDS else 0)
    e2e = {
        "op_p50_ms": _pct(quiet_lat, 50),
        "items_per_s": statistics.median(qps) if qps else float("nan"),
        "op_cpu_s": statistics.median(a_cpus) if a_cpus else float("nan"),
        "setup_s": setup_s,
    }
    layers_fn = None
    if tracer:
        layers_fn = lambda ev: _layers(tracer, ev, measured, coalesce_log, up_stats, a_rows, untraced, summary)  # noqa: E731
    return {
        "attempted": attempted, "failed": failed, "errors": errors, "e2e": e2e,
        "summary": summary, "setup": setup, "layers_fn": layers_fn,
    }


def _plan(stats) -> str:
    from suggest_spark.operators.suggest import select_suggest_plan

    return select_suggest_plan(stats.num_docs, stats.num_postings, stats.max_df)


class _OpenLoop:
    """Fixed-rate request generator: request ``i`` is due at ``start +
    i / RATE`` whatever happened before; latency counts from the due time."""

    def __init__(self, app, inp: dict, gen: list):
        self.app, self.inp, self.gen = app, inp, gen
        self.records: list[dict] = []
        self.phase = "read"
        self._next = 0
        self._lock = threading.Lock()

    def run(self, seconds: float, phase: str, until: threading.Thread | None = None) -> None:
        """Send requests for ``seconds``, and on while ``until`` is alive."""
        self.phase = phase
        work: queue.Queue = queue.Queue()
        workers = [threading.Thread(target=self._worker, args=(work,)) for _ in range(WORKERS)]
        for w in workers:
            w.start()
        start = time.perf_counter()
        k = 0
        while k < seconds * RATE or (until is not None and until.is_alive()):
            due = start + k / RATE
            k += 1
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            work.put(due)
        for _ in workers:
            work.put(None)
        for w in workers:
            w.join()

    def _worker(self, work: queue.Queue) -> None:
        client = self.app.test_client()
        while True:
            due = work.get()
            if due is None:
                return
            with self._lock:
                i = self._next
                self._next += 1
            kind, q = self.inp["reads"][i % len(self.inp["reads"])]
            rec = {
                "kind": kind, "q": q, "phase": self.phase, "gen0": self.gen[0],
                "check": bool(self.inp["check"][i % len(self.inp["check"])]),
            }
            t = time.perf_counter()
            rec["late_ms"] = (t - due) * 1e3
            try:
                r = client.get(_url(kind, q))
                rec["status"] = r.status_code
                if rec["check"] and r.status_code == 200:
                    rec["body"] = [(it["Score"], it["Value"]) for it in r.get_json()]
            except Exception:  # a request that raises is a failed request
                rec["status"] = -1
            end = time.perf_counter()
            rec["lat_ms"] = (end - due) * 1e3
            rec["wall_ms"] = (end - t) * 1e3
            rec["gen1"] = self.gen[0]
            with self._lock:
                self.records.append(rec)


class _CoalesceProbe:
    """Queue wait and batch sizes of the request coalescer, measured around
    its public ``suggest``/``autocomplete`` calls and the service batch calls
    it makes."""

    def __init__(self):
        self.lock = threading.Lock()
        self.pending: dict[tuple, list[dict]] = {}
        self.requests: list[dict] = []
        self.batches: list[int] = []
        for kind in ("suggest", "autocomplete"):
            self._wrap_facade(kind)
        for kind in ("suggest", "autocomplete"):
            self._wrap_batch(kind)

    def _wrap_facade(self, kind: str) -> None:
        fn = getattr(RequestCoalescer, kind)
        probe = self

        def facade(self_, name, query, *args):
            rec = {"kind": kind, "submit": time.perf_counter()}
            with probe.lock:
                probe.pending.setdefault((kind, query), []).append(rec)
            try:
                return fn(self_, name, query, *args)
            finally:
                rec["done"] = time.perf_counter()
                with probe.lock:
                    probe.requests.append(rec)

        setattr(RequestCoalescer, kind, facade)

    def _wrap_batch(self, kind: str) -> None:
        attr = f"{kind}_batch"
        fn = getattr(service_mod.SuggestService, attr)
        probe = self

        def batch(self_, name, queries, *args):
            t = time.perf_counter()
            recs = []
            with probe.lock:
                for q in queries:
                    lst = probe.pending.get((kind, q))
                    if lst:
                        recs.append(lst.pop(0))
                probe.batches.append(len(queries))
            try:
                return fn(self_, name, queries, *args)
            finally:
                end = time.perf_counter()
                for rec in recs:
                    rec["batch_start"], rec["batch_end"] = t, end

        setattr(service_mod.SuggestService, attr, batch)


def _plan_counts(nodes: list[tuple[str, int]]) -> dict[str, int]:
    """Row counts of the plain suggest plan from its pre-order node list:
    the first HashAggregate is the final (query, doc) aggregation, the
    Filter right above it the CountFilter, and the first BroadcastHashJoin
    below the partial HashAggregate the query-gram × posting join (the
    LengthFilter is part of its condition)."""
    names = [n for n, _ in nodes]
    out = {"match": 0, "pair": 0, "candidate": 0}
    if "HashAggregate" not in names:
        return out
    i = names.index("HashAggregate")
    out["pair"] = max(nodes[i][1], 0)
    if i > 0 and names[i - 1] == "Filter":
        out["candidate"] = max(nodes[i - 1][1], 0)
    if "HashAggregate" in names[i + 1:]:
        j = names.index("HashAggregate", i + 1)
        if "BroadcastHashJoin" in names[j:]:
            out["match"] = max(nodes[names.index("BroadcastHashJoin", j)][1], 0)
    return out


def _layers(tracer, ev, measured, probe, up_stats, a_rows, untraced, summary) -> dict:
    from .trace import plan_rows, self_times, union_s

    spans = tracer.spans
    st = self_times(spans)
    groups = ev["groups"]
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {
        k: v for k, v in summary.items() if k.startswith(("setup.", "serve.")) and v is not None
    }

    def by(name, op_prefix=None):
        return [s for s in spans if s["name"] == name and (op_prefix is None or (s["op"] or "").startswith(op_prefix))]

    def jobs_under(span) -> dict:
        """Task sums of the Spark jobs of ``span`` and every span below it
        (each span tags its jobs with a group of its own)."""
        acc = {"cpu_s": 0.0, "shuffle_b": 0, "spill_b": 0, "jobs": 0, "job_intervals": [], "exec_ids": set()}
        todo = [span]
        while todo:
            s = todo.pop()
            todo.extend(kids.get(s["id"], ()))
            g = groups.get(s["group"], {})
            for k in ("cpu_s", "shuffle_b", "spill_b", "jobs"):
                acc[k] += g.get(k, 0)
            acc["job_intervals"] += g.get("job_intervals", [])
            acc["exec_ids"] |= g.get("exec_ids", set())
        return acc

    # set-up: service_from_config's self time is the index build (the
    # stats refresh is its child span); warm and replica build as a whole
    out["setup.index_build_s"] = sum(st[s["id"]] for s in by("setup.index_build"))
    for key, name in (("setup.stats_s", "setup.stats"), ("setup.warm_s", "setup.warm"),
                      ("setup.replica_build_s", "setup.replica_build")):
        out[key] = sum(s["end"] - s["start"] for s in by(name))

    # phase A: the Spark suggest plan, per traced batch
    per = []
    for op in by("op", "A"):
        s = next(s for s in kids.get(op["id"], ()) if s["name"] == "service.suggest_batch")
        g = jobs_under(s)
        jobs_s = union_s(g["job_intervals"])
        rows = {"match": 0, "pair": 0, "candidate": 0}
        for eid in g["exec_ids"]:
            counts = _plan_counts(plan_rows(ev["plans"].get(eid, {"nodeName": ""}), ev["acc"]))
            rows = {k: rows[k] + counts[k] for k in rows}
        parts = {c["name"]: st[c["id"]] for c in kids.get(s["id"], ())}
        per.append({
            "wall": op["end"] - op["start"],
            # named parts: the query frame, the plan build and the collect
            # (its Spark jobs plus the result fetch); the sort and value-map
            # lookup after the collect are left out
            "coverage": sum(parts.values()) / (op["end"] - op["start"]),
            "service.suggest_batch.driver_s": (s["end"] - s["start"]) - jobs_s,
            "service.suggest_batch.create_df_s": parts.get("service.suggest_batch.create_df", 0.0),
            "suggest.plan.build_s": parts.get("suggest.plan.build", 0.0),
            "suggest.plan.wall_s": jobs_s,
            "suggest.plan.cpu_s": g["cpu_s"],
            "suggest.plan.py_cpu_s": op.get("py_cpu_s", 0.0),
            "suggest.plan.shuffle_b": g["shuffle_b"],
            "suggest.plan.spill_b": g["spill_b"],
            "suggest.plan.jobs": g["jobs"],
            "suggest.plan.match_rows": rows["match"],
            "suggest.plan.pair_rows": rows["pair"],
            "suggest.plan.candidate_rows": rows["candidate"],
        })
    for k in per[0] if per else ():
        out[k] = statistics.median(p[k] for p in per)
    out.pop("coverage", None)
    out["trace.coverage"] = min((p["coverage"] for p in per), default=0.0)
    wall = out.pop("wall", 0.0)
    out["trace.op_p50_ms"] = wall * 1e3
    if untraced and wall:
        out["trace.untraced_op_p50_ms"] = statistics.median(untraced) * 1e3
        out["trace.overhead_ratio"] = wall / statistics.median(untraced) - 1
    out["suggest.plan.countfilter_pass"] = out.get("suggest.plan.candidate_rows", 0) / max(out.get("suggest.plan.pair_rows", 0), 1)
    out["suggest.plan.result_rows"] = statistics.median(a_rows) if a_rows else 0

    # phase B, read side
    reqs = [r for r in probe.requests if "batch_start" in r]
    waits = [(r["batch_start"] - r["submit"]) * 1e3 for r in reqs]
    out["coalesce.queue_wait_ms.p50"] = _pct(waits, 50)
    out["coalesce.queue_wait_ms.p95"] = _pct(waits, 95)
    out["coalesce.batches"] = len(probe.batches)
    out["coalesce.batch_size"] = statistics.mean(probe.batches) if probe.batches else 0.0
    for name, ps in (("suggest", (50, 95)), ("autocomplete", (50,))):
        ms = [(s["end"] - s["start"]) * 1e3 for s in by(f"replica.{name}")]
        for p in ps:
            out[f"replica.{name}_ms.p{p}"] = _pct(ms, p)
    coalesced = [(r["done"] - r["submit"]) * 1e3 for r in reqs]
    out["http_api.overhead_ms.p50"] = max(
        _pct([r["wall_ms"] for r in measured if r["status"] == 200], 50) - _pct(coalesced, 50), 0.0
    )
    out["loadgen.late_ms.p95"] = summary["loadgen.late_ms.p95"]
    out["loadgen.sent"] = len(measured)
    out["loadgen.ok"] = sum(r["status"] == 200 for r in measured)
    out["loadgen.failed"] = sum(r["status"] != 200 for r in measured)

    # phase B, write side: the measured upsert only (op U1; U0 is set-up)
    def self_s(name):
        return sum(st[s["id"]] for s in spans if s["name"] == name and s["op"] == "U1")

    out["versioned.index_upsert_s"] = self_s("versioned.index_upsert")
    out["versioned.dict_upsert_s"] = self_s("versioned.dict_upsert")
    out["versioned.dict_write_s"] = self_s("versioned.dict_write")
    out["replica.patch_ms"] = self_s("replica.patched") * 1e3
    out["service.upsert.other_s"] = self_s("service.upsert")
    if len(up_stats) == UPSERTS:
        out["versioned.rows_written_per_doc"] = up_stats[-1]["rows_written"] / UPSERT_DOCS
        out["versioned.sizes_touched"] = len(up_stats[-1]["sizes_touched"])
    return out
