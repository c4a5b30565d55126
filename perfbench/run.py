#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload bi_dashboard --seed 1 \
        --seconds 10 --trace 0

The runner compiles the engine and the harness into `.bench_build/`
(once per source state), copies the testdata into `.bench_work/`, runs
one JVM with a single client on `local[<=4]`, checks every output, and
prints a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics with no Spark or
QueryExecution listener attached; `--trace 1` attaches them, writes the
span tree to `.bench_out/` and reports the per-layer metrics. See
`perfbench/README.md`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

SCALE = "sf0.01"
CORES = min(4, len(os.sched_getaffinity(0)))  # at most nproc task slots
JVM_TIMEOUT_S = 165
MIN_PASSES = 3
# Pass times still fall by a few percent over the timed passes after two
# warm-up passes; a third would add about 7 s to every run, which the
# run budget (48 runs in under an hour) cannot spare.
WARMUP_PASSES = 2

WORKLOADS = {
    # the reference's own dashboard: its four SQL-analysis insight
    # queries, its two KPI queries, and one streaming tile
    "bi_dashboard": dict(kind="queries", ops=[
        "q01_top_products", "q02_monthly_revenue", "q03_revenue_by_store",
        "q04_balance_bucket", "q05_kpi_summary", "q06_category_share",
        "q124_streaming_hourly"]),
    "etl_load": dict(kind="etl", ops=["pipeline_run"], base_rows=5000),
}

# The program's on-disk artifact caches. Entry names carry an MD5 prefix
# of the input directory path (graft.sources.Tables.pathKey), so the
# entries of this benchmark's private input copy are exactly those whose
# name contains its key. Declared state at run start: none of them exist.
CACHE_ROOTS = ["/tmp/graft_stage", "/tmp/graft_stream_sink",
               "/tmp/graft_index", "/tmp/graft_sorted"]

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


class Abort(Exception):
    pass


def fail(msg):
    raise Abort(msg)


def spark_jars():
    """Jars of the Spark distribution at $SPARK_HOME, else of the first
    distribution whose bin/spark-submit is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any("scala-compiler" in os.path.basename(j) for j in jars):
            return jars
    fail("no Spark distribution with a Scala compiler jar found "
         "(set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("engine sources not found: run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(jars):
    """Compile engine + harness with scalac into .bench_build/perfbench,
    unless a build of the same sources and jars is already there."""
    files = sources()
    h = hashlib.sha256()
    for f in files + jars:
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(ROOT, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(out, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        fail("compilation failed")
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def testdata_copy(work):
    """Copy the scale's parquet tables into the checkout, keeping their
    modification times (the program keys some caches on them)."""
    base = os.environ.get("PERFBENCH_TESTDATA",
                          os.path.join(os.path.expanduser("~"), "testdata"))
    src = os.path.join(base, SCALE)
    if not os.path.isfile(os.path.join(src, "lineitem.parquet")):
        fail("testdata %s not found (set PERFBENCH_TESTDATA)" % src)
    dst = os.path.join(work, "data", SCALE)
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst, copy_function=shutil.copy2)
    for f in glob.glob(os.path.join(dst, "*")):
        os.chmod(f, 0o644)
    return dst


def path_key(path):
    return hashlib.md5(path.encode("utf-8")).hexdigest()[:16]


def clear_caches(key):
    for root in CACHE_ROOTS:
        for entry in glob.glob(os.path.join(root, "*%s*" % key)):
            shutil.rmtree(entry, ignore_errors=True)
            if os.path.lexists(entry):
                os.remove(entry)


def run_jvm(classes, jars, args, work, timeout_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] +
           [x for p in ADD_OPENS for x in ("--add-opens",
                                           "java.base/%s=ALL-UNNAMED" % p)] +
           ["-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes] + jars), "perfbench.Harness"] +
           args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout_s)
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if code != 0:
        with open(log, errors="replace") as fh:
            tail = fh.read()[-3000:]
        sys.stderr.write(tail)
        fail("harness exited with code %d" % code)


def fmt(v):
    return "n/a" if v is None else ("%.4f" % v if isinstance(v, float) else str(v))


def report(workload, seed, s):
    print("perfbench %s seed=%d cores=%d scale=%s passes=%d" % (
        workload, seed, CORES, SCALE, s["passes"]))
    rows = [
        ("setup_s", "s", s["setup_s"], ""),
        ("pass_s", "s", s["pass_s"], "median of %d passes" % s["passes"]),
        ("query_p50_s", "s", s["query_p50_s"], "n=%d" % s["query_samples"]),
        ("query_p90_s", "s", s["query_p90_s"], "n=%d" % s["query_samples"]),
        ("batch_p50_s", "s", s["batch_p50_s"], "n=%d" % s["batch_samples"]),
        ("batch_p90_s", "s", s["batch_p90_s"], "n=%d" % s["batch_samples"]),
        ("rows_per_s", "1/s", s.get("rows_per_s"), ""),
        ("stored_bytes_ratio", "ratio", s.get("stored_bytes_ratio"), ""),
        ("retained_heap_mb", "MB", s["retained_heap_mb"], "max over passes"),
        ("failed_ops_ratio", "ratio", s["failed_ops_ratio"],
         "%d of %d" % (s["failed"], s["attempted"])),
    ]
    for name, unit, v, note in rows:
        print("  %-20s %12s %-6s %s" % (name, fmt(v), unit, note))
    for f in s["failures"]:
        print("  FAILED %s" % f)


def layer_table(values):
    print("per-layer (median per timed pass; set-up per run):")
    for name, unit in metrics.LAYER_METRICS:
        print("  %-24s %12s %s" % (name, fmt(values.get(name)), unit))


def load_expected():
    with open(os.path.join(HERE, "expected.json")) as fh:
        exp = json.load(fh)
    if exp.get("scale") != SCALE:
        fail("expected.json is for %s, not %s" % (exp.get("scale"), SCALE))
    return exp["ops"]


def main():
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", metavar="FILE",
                    help="also write this run's digests and op times to FILE")
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    jars = spark_jars()
    t_build = time.time()
    classes = build(jars)
    # set-up time starts after the one-time compile of the checkout
    started += time.time() - t_build
    expected = load_expected()

    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, "run-%d" % os.getpid())
    os.makedirs(work)
    key = None
    try:
        data = testdata_copy(work_root)
        key = path_key(data)
        clear_caches(key)
        events_file = os.path.join(work, "events.json")
        args = ["--kind", wl["kind"], "--ops", ",".join(wl["ops"]),
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--warmup-passes", str(WARMUP_PASSES),
                "--min-passes", str(MIN_PASSES), "--trace", str(a.trace),
                "--cores", str(CORES), "--sf-dir", data, "--work-dir", work,
                "--out", events_file,
                "--etl-base-rows", str(wl.get("base_rows", 0))]
        run_jvm(classes, jars, args, work, JVM_TIMEOUT_S)
        with open(events_file) as fh:
            events = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if key:
            clear_caches(key)

    s = metrics.summarize(events, expected, started * 1000.0)
    report(a.workload, a.seed, s)
    if a.record_expected:
        record(a.record_expected, events)
    if a.trace:
        span_list = metrics.spans(events)
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, "trace-%s-seed%d.json" % (
            a.workload, a.seed))
        with open(path, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "spans": span_list}, fh)
        print("spans: %d written to %s" % (len(span_list),
                                            os.path.relpath(path, ROOT)))
        values = metrics.layers(events, span_list, CORES, s)
        layer_table(values)
        names = metrics.LAYER_METRICS
    else:
        values = {"setup_s": s["setup_s"], "pass_s": s["pass_s"]}
        names = [("pass_s", "s"), ("setup_s", "s")]
    if any(values.get(n) is None for n, _ in names):
        fail("a metric could not be computed")
    print(json.dumps({
        "correct": s["failed"] == 0,
        "attempted": s["attempted"],
        "failed": s["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }))


def record(path, events):
    """Digests and median warm op times of this run, in expected.json's
    shape, for refreshing the committed expectations."""
    out = {}
    for op in events["ops"]:
        e = out.setdefault(op["name"], {"times": []})
        if "digest" in op:
            e["rows"], e["digest"] = op["rows"], op["digest"]
        if op["phase"] == "timed":
            e["times"].append((op["end_ms"] - op["start_ms"]) / 1000.0)
    for e in out.values():
        t = sorted(e.pop("times"))
        e["reference_s"] = round(t[len(t) // 2], 3) if t else 0.0
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)


def _terminate(signum, frame):
    raise Abort("stopped by signal %d" % signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        main()
    except Abort as e:
        sys.stderr.write("perfbench: %s\n" % e)
        sys.exit(2)
