"""Pure functions that turn one harness event file into metrics.

Everything here is deterministic on its input, so `test_perfbench.py`
checks it without a JVM. Times in the event file are epoch milliseconds;
metrics are seconds unless their name says otherwise.
"""
import math
import statistics

MIN_BEYOND = 10  # a percentile is reported only with this many samples beyond it


def percentile(values, q):
    """Nearest-rank q-th percentile of `values`, or None when fewer than
    MIN_BEYOND samples lie above it."""
    if not values:
        return None
    v = sorted(values)
    idx = max(0, math.ceil(q / 100.0 * len(v)) - 1)
    if len(v) - 1 - idx < MIN_BEYOND:
        return None
    return v[idx]


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end_ms"] - span["start_ms"]) - union_ms(
        [(c["start_ms"], c["end_ms"]) for c in children],
        span["start_ms"], span["end_ms"])


def op_error(op, expected):
    """Why an operation counts as failed, or None. An operation fails when
    it threw, when its own check failed, or when its digest differs from
    the committed one."""
    if "error" in op:
        return op["error"]
    want = expected.get(op["name"])
    if want is None:
        return None
    if "digest" in want and (op.get("rows"), op.get("digest")) != (
            want["rows"], want["digest"]):
        return "digest %s/%s, expected %s/%s" % (
            op.get("rows"), op.get("digest"), want["rows"], want["digest"])
    return None


def charged_s(op, expected, failed):
    """Seconds an operation adds to its pass. A failed operation is charged
    at least its committed reference time, so a query that starts to fail
    fast can never make a pass look faster."""
    s = (op["end_ms"] - op["start_ms"]) / 1000.0
    if failed:
        s = max(s, expected.get(op["name"], {}).get("reference_s", 0.0))
    return s


def summarize(events, expected, started_ms):
    """End-to-end figures of one run.

    `started_ms` is when the runner began its set-up (after any one-time
    build of the checkout).
    """
    ops = events["ops"]
    errors = [(op, op_error(op, expected)) for op in ops]
    failed = [(op, e) for op, e in errors if e is not None]
    timed = [p for p in events["passes"] if p["phase"] == "timed"]
    by_pass = {}
    for op, err in errors:
        by_pass.setdefault(op["pass"], []).append(
            charged_s(op, expected, err is not None))
    pass_s = [sum(by_pass.get(p["pass"], [])) for p in timed]
    lat = [charged_s(op, expected, err is not None)
           for op, err in errors if op["phase"] == "timed"]
    setup = events["setup"]
    out = {
        "attempted": len(ops),
        "failed": len(failed),
        "failures": sorted({"%s: %s" % (op["name"], e) for op, e in failed}),
        "passes": len(timed),
        "pass_s": statistics.median(pass_s) if pass_s else None,
        "pass_s_all": pass_s,
        "setup_s": (setup["first_timed_ms"] - started_ms) / 1000.0,
        "session_s": (setup["session_ready_ms"] - started_ms) / 1000.0,
        "warmup_s": setup.get("warmup_s", 0.0),
        "gen_s": setup.get("gen_s", 0.0),
        "retained_heap_mb": max(p["heap_mb"] for p in timed) if timed else None,
        "query_samples": len(lat),
        "query_p50_s": percentile(lat, 50),
        "query_p90_s": percentile(lat, 90),
    }
    out["failed_ops_ratio"] = out["failed"] / max(1, out["attempted"])
    windows = [(p["start_ms"], p["end_ms"]) for p in timed]
    trig = [b["duration_ms"].get("triggerExecution", 0) / 1000.0
            for b in events["batches"] if _inside(b["start_ms"], windows)]
    out["batch_samples"] = len(trig)
    out["batch_p50_s"] = percentile(trig, 50)
    out["batch_p90_s"] = percentile(trig, 90)
    etl = [p for p in timed if "stored_bytes" in p]
    if etl:
        rows = sum(p["fact_rows"] for p in etl)
        out["rows_per_s"] = rows / sum(pass_s) if sum(pass_s) else None
        out["stored_bytes_ratio"] = statistics.median(
            p["stored_bytes"] / p["raw_bytes"] for p in etl)
    return out


def _inside(t, windows):
    return any(s <= t <= e for s, e in windows)


def spans(events):
    """The run's span tree as a flat list of dicts with id and parent:
    run -> pass -> query -> {construct, action} -> job -> stage, with
    Catalyst phases and micro-batches under the query that contains them.
    Jobs and phases are attributed by time: there is one client, so the
    query whose span contains a job's start launched it."""
    out = []

    def add(kind, name, start, end, parent, **attrs):
        sid = len(out)
        out.append(dict(id=sid, parent=parent, kind=kind, name=name,
                        start_ms=start, end_ms=end, **attrs))
        return sid

    passes = events["passes"]
    run = add("run", "run", min(p["start_ms"] for p in passes),
              max(p["end_ms"] for p in passes), None)
    queries = []
    for p in passes:
        pid = add("pass", "pass-%d" % p["pass"], p["start_ms"], p["end_ms"],
                  run, phase=p["phase"], number=p["pass"])
        for op in events["ops"]:
            if op["pass"] != p["pass"]:
                continue
            qid = add("query", op["name"], op["start_ms"], op["end_ms"], pid,
                      phase=op["phase"])
            add("construct", op["name"], op["start_ms"],
                op["construct_end_ms"], qid)
            add("action", op["name"], op["construct_end_ms"], op["end_ms"], qid)
            add("janitor", op["name"], op["janitor_start_ms"],
                op["janitor_end_ms"], pid)
            queries.append((op["start_ms"], op["end_ms"], qid))
    queries.sort()

    def owner(t, fallback):
        for s, e, qid in queries:
            if s <= t <= e:
                return qid
        return fallback

    trace = events.get("trace") or {}
    stages = {}
    for st in trace.get("stages", []):
        stages.setdefault(st["stage_id"], []).append(st)
    for job in sorted(trace.get("jobs", []), key=lambda j: j["start_ms"]):
        jid = add("job", "job-%d" % job["job_id"], job["start_ms"],
                  job["end_ms"], owner(job["start_ms"], run),
                  site=job["site"], ok=job["ok"])
        for sid in job["stage_ids"]:
            for st in stages.pop(sid, []):
                add("stage", "stage-%d" % sid, st["start_ms"], st["end_ms"],
                    jid, **{k: v for k, v in st.items()
                            if k not in ("start_ms", "end_ms")})
    for qe in trace.get("executions", []):
        for phase, t in qe["phases"].items():
            add("catalyst", phase, t["start_ms"], t["end_ms"],
                owner(t["start_ms"], run), func=qe["func"])
    for b in events["batches"]:
        start = b["start_ms"]
        add("batch", "batch-%d" % b["batch"], start,
            start + b["duration_ms"].get("triggerExecution", 0),
            owner(start, run), run_id=b["run_id"],
            duration_ms=b["duration_ms"], state_rows=b["state_rows"])
    return out


# per-pass layer metrics: each is reported as its median over timed passes
PASS_METRICS = [
    ("operators.construct_s", "s"), ("operators.gap_s", "s"),
    ("operators.janitor_s", "s"),
    ("catalyst.plan_s", "s"), ("catalyst.qe_count", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.job_wall_s", "s"),
    ("scheduler.task_run_s", "s"), ("scheduler.core_util", "ratio"),
    ("sources.scan_tasks", "count"), ("sources.input_mb", "MB"),
    ("sources.input_rows", "count"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.spill_mb", "MB"), ("shuffle.gc_s", "s"),
    ("streaming.batches", "count"), ("streaming.add_batch_s", "s"),
    ("streaming.commit_s", "s"), ("streaming.planning_s", "s"),
    ("streaming.state_rows", "count"),
    ("etl.stage_write_s", "s"), ("etl.load_write_s", "s"),
    ("etl.output_mb", "MB"), ("etl.files_written", "count"),
]
# per-run metrics, taken from the run summary
RUN_METRICS = [
    ("setup.session_s", "s", "session_s"), ("setup.warmup_s", "s", "warmup_s"),
    ("setup.gen_s", "s", "gen_s"),
    ("memory.retained_heap_mb", "MB", "retained_heap_mb"),
    ("trace.pass_s", "s", "pass_s"),
]
LAYER_METRICS = PASS_METRICS + [(n, u) for n, u, _ in RUN_METRICS]

MB = 1024.0 * 1024.0


def _dur_s(spans):
    return sum(s["end_ms"] - s["start_ms"] for s in spans) / 1e3


def pass_layers(pass_span, children, files, cores):
    """Layer figures of one pass span."""
    m = dict.fromkeys([name for name, _ in PASS_METRICS], 0.0)
    kids = children.get(pass_span["id"], [])
    m["operators.janitor_s"] = _dur_s(k for k in kids if k["kind"] == "janitor")
    jobs, stages = [], []
    for q in (k for k in kids if k["kind"] == "query"):
        parts = children.get(q["id"], [])
        of = lambda kind: [k for k in parts if k["kind"] == kind]  # noqa: E731
        phases, batches = of("catalyst"), of("batch")
        m["operators.construct_s"] += _dur_s(of("construct"))
        m["operators.gap_s"] += self_ms(q, of("job") + phases) / 1e3
        m["catalyst.plan_s"] += _dur_s(phases)
        m["catalyst.qe_count"] += sum(1 for k in phases
                                      if k["name"] == "analysis")
        jobs += of("job")
        for b in batches:
            d = b["duration_ms"]
            m["streaming.batches"] += 1
            m["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            m["streaming.commit_s"] += (d.get("walCommit", 0) +
                                        d.get("commitOffsets", 0)) / 1e3
            m["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
        # state rows held at the end of each stream run
        last = {b["run_id"]: b["state_rows"]
                for b in sorted(batches, key=lambda b: b["start_ms"])}
        m["streaming.state_rows"] += sum(last.values())
    for j in jobs:
        stages += children.get(j["id"], [])
        if "Tables$.writeCsv" in j["site"]:
            m["etl.stage_write_s"] += _dur_s([j])
        elif "Tables$.overwriteParquet" in j["site"]:
            m["etl.load_write_s"] += _dur_s([j])
    total = lambda key: sum(s[key] for s in stages)  # noqa: E731
    m["scheduler.jobs"] = len(jobs)
    m["scheduler.stages"] = len(stages)
    m["scheduler.tasks"] = total("tasks")
    m["scheduler.job_wall_s"] = union_ms(
        [(j["start_ms"], j["end_ms"]) for j in jobs]) / 1e3
    m["scheduler.task_run_s"] = total("run_ms") / 1e3
    if m["scheduler.job_wall_s"]:
        m["scheduler.core_util"] = m["scheduler.task_run_s"] / (
            m["scheduler.job_wall_s"] * cores)
    scans = [s for s in stages if s["input_bytes"] > 0]
    m["sources.scan_tasks"] = sum(s["tasks"] for s in scans)
    m["sources.input_mb"] = sum(s["input_bytes"] for s in scans) / MB
    m["sources.input_rows"] = sum(s["input_rows"] for s in scans)
    m["shuffle.write_mb"] = total("shuffle_write_bytes") / MB
    m["shuffle.read_mb"] = total("shuffle_read_bytes") / MB
    m["shuffle.spill_mb"] = total("spill_bytes") / MB
    m["shuffle.gc_s"] = total("gc_ms") / 1e3
    m["etl.output_mb"] = total("output_bytes") / MB
    m["etl.files_written"] = files.get(pass_span["number"], 0)
    return m


def layers(events, span_list, cores, summary):
    """Per-layer figures of a traced run: per-pass figures as their median
    over timed passes, per-run figures from the run summary."""
    children = {}
    for s in span_list:
        children.setdefault(s["parent"], []).append(s)
    files = {p["pass"]: p.get("files", 0) for p in events["passes"]}
    per_pass = [pass_layers(p, children, files, cores) for p in span_list
                if p["kind"] == "pass" and p["phase"] == "timed"]
    out = {name: statistics.median(m[name] for m in per_pass)
           for name, _ in PASS_METRICS}
    for name, _, key in RUN_METRICS:
        out[name] = summary[key]
    return out
