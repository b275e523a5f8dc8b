#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the engine and
the harness from source (sbt, offline) and generates the workload's corpus
with `graft.tools.ScaleGen`; both are kept under `.bench_build/` (or
$CARGO_TARGET_DIR) for later runs. Each run starts one JVM at
local[<nproc>], checks the outputs in an untimed pass, prints every metric
by name with its unit and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, from a traced
phase that follows an untraced one in the same run.

    python3 perfbench/run.py --record-expected --workload NAME

re-records the rows + hash of the queries without an oracle from the
current outputs (review the diff before committing it).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import checks  # noqa: E402
import metrics  # noqa: E402

# Every 28th query of the sorted surface, less the two that read stores
# outside the derived set and four the run budget cannot hold (q118, q143,
# q296, q321); plus q24, which reads the pair store, and q29 and q47, which
# have no oracle and are checked against expected/. q21 is a fan-out
# anchor; q43 and q99 read the cluster store, which is derived from the
# pair store.
SURFACE_QUERIES = [
    "q01_pricing_summary", "q169_null_profile",
    "q21_token_stats", "q245_tpch_q6_forecast", "q270_temperature_sweep", "q347_hapax_share",
    "q43_dedup_clusters", "q99_leakage_free_split", "q24_ngram_jaccard", "q29_winnow_fp",
    "q47_sketch_rollup"]

# A timed phase runs a fixed number of units, ceil(--seconds / unit_s):
# passes over the query set (surface) or increments after the backlog
# (stream). A pass takes about unit_s at the commit that defined the
# benchmark, so the surface phase lasts about --seconds; the stream's unit_s
# also covers its share of the backlog drain, which precedes the
# increments. Fixing the count from --seconds rather than from the clock
# gives every run of every commit the same samples.
WORKLOADS = {
    "surface_sf0.01": dict(kind="batch", unit_s=5, corpus=("sf0.01", "0.01", ""),
                           queries=SURFACE_QUERIES, stores=["pairs", "clusters"],
                           kernel_corpus=("text_sf0.1", "0.1", "documents,embeddings")),
    "medallion_stream": dict(kind="stream", unit_s=10, rate=50, backlog=600, increment=60),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 140


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fingerprint(root, parts):
    h = hashlib.sha256()
    for part in parts:
        base = os.path.join(root, part)
        walk = [(base, [], [""])] if os.path.isfile(base) else os.walk(base)
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f) if f else d
                st = os.stat(p)
                h.update(("%s %d %d\n" % (os.path.relpath(p, root), st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def run_logged(cmd, log_path, timeout, **kw):
    """Run to completion with output in a log; kill the process group on
    timeout and wait for it."""
    with open(log_path, "a") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            return None


def tail_of(path, n=40):
    try:
        return "".join(open(path, errors="replace").readlines()[-n:])
    except OSError:
        return ""


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        fail("no Spark distribution: set SPARK_HOME")
    return home


def build(root, out):
    """Compile the engine and the harness; return the runtime classpath."""
    stamp = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "build.classpath")
    fp = fingerprint(root, ["src/main", "perfbench/src", "perfbench/build.sbt",
                            "perfbench/project/build.properties"])
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", GRAFT_BENCH_BUILD=out, SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    if run_logged(cmd, log, 800, cwd=os.path.join(root, "perfbench"), env=env) != 0:
        fail("build failed:\n" + tail_of(log))
    lines = [l.strip() for l in open(log) if ".jar" in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath:\n" + tail_of(log))
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(fp)
    return lines[-1]


def java(cp, main, args, cwd, log, extra_env=None, timeout=JVM_TIMEOUT_S):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + tmp] + opens + [
        "-cp", cp, main] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=os.path.join(cwd, "spark-local"), **(extra_env or {}))
    return run_logged(cmd, log, timeout, cwd=cwd, env=env)


def corpus(cp, out, spec):
    """Generate a ScaleGen corpus (name, scale factor, tables) once per
    checkout; ScaleGen is deterministic, so every run reads the same data."""
    name, sf, tables = spec
    d = os.path.join(out, "data", name)
    done = d + ".done"
    if os.path.exists(done):
        return d
    shutil.rmtree(d, ignore_errors=True)
    work = os.path.join(out, "data", "gen-work")
    os.makedirs(work, exist_ok=True)
    args = [d, sf] + ([tables] if tables else [])
    code = java(cp, "graft.tools.ScaleGen", args, work, os.path.join(out, "data", "gen.log"),
                timeout=600)
    if code != 0:
        fail("corpus generation failed:\n" + tail_of(os.path.join(out, "data", "gen.log")))
    shutil.rmtree(work, ignore_errors=True)
    open(done, "w").close()
    return d


def jvm_args(wl, data, kernel_data, run_dir, args):
    a = ["--kind", wl["kind"], "--data", data or "", "--out", run_dir, "--seed", str(args.seed),
         "--units", str(max(1, math.ceil(args.seconds / wl["unit_s"]))),
         "--trace", str(args.trace), "--cpus", str(cpus())]
    if wl["kind"] == "batch":
        a += ["--queries", ",".join(wl["queries"]), "--stores", ",".join(wl["stores"])]
        if kernel_data:
            a += ["--kernel-data", kernel_data]
    else:
        a += ["--rate", str(wl["rate"]), "--backlog", str(wl["backlog"]),
              "--increment", str(wl["increment"])]
    return a


def expected_path(name):
    return os.path.join(HERE, "expected", name + ".json")


def run_checks(root, name, wl, data, run_dir, rec, log, record_expected):
    if wl["kind"] == "stream":
        return checks.stream(rec["stream_check"])
    fails = ["%s: failed in the check pass" % n for n in rec["check_failed"]]
    check_dir = os.path.join(run_dir, "check")
    oracle_names = set(json.load(open(os.path.join(check_dir, "oracle_sql.json"))))
    ok_names = [n for n in rec["names"] if n not in rec["check_failed"]]
    fails += checks.oracle(root, data, check_dir, [n for n in ok_names if n in oracle_names], log)
    rest = [n for n in ok_names if n not in oracle_names]
    if record_expected:
        os.makedirs(os.path.dirname(expected_path(name)), exist_ok=True)
        with open(expected_path(name), "w") as f:
            json.dump({n: checks.result_record(check_dir, n) for n in rest}, f, indent=1, sort_keys=True)
            f.write("\n")
    expected = json.load(open(expected_path(name))) if os.path.exists(expected_path(name)) else {}
    return fails + checks.records(check_dir, rest, expected)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (no build.sbt / src/main/scala/graft here)")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)

    name, wl = args.workload, WORKLOADS[args.workload]
    cp = build(root, out)
    data = corpus(cp, out, wl["corpus"]) if wl["kind"] == "batch" else None
    kernel_data = corpus(cp, out, wl["kernel_corpus"]) if args.trace and "kernel_corpus" in wl else None

    run_dir = os.path.join(out, "runs", "%s-%d-%d-%d" % (name, args.seed, args.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "stores"))
    jvm_log = os.path.join(run_dir, "jvm.log")
    code = java(cp, "graftbench.Main", jvm_args(wl, data, kernel_data, run_dir, args), run_dir, jvm_log,
                extra_env={"SPARK_GRAFT_STORE_DIR": os.path.join(run_dir, "stores")})
    if code != 0:
        fail("harness %s:\n%s" % ("timed out" if code is None else "exited %d" % code,
                                   tail_of(jvm_log)))
    rec = json.load(open(os.path.join(run_dir, "result.json")))
    with open(os.path.join(run_dir, "checks.log"), "w") as log:
        fails = run_checks(root, name, wl, data, run_dir, rec, log, args.record_expected)
    for f in fails:
        print("CHECK FAILED %s: %s" % (name, f))

    e2e, tail_info = metrics.end_to_end(rec, rec["untraced"], wl["kind"])
    unit_of = {n: u for n, u, _ in metrics.END_TO_END + metrics.PER_LAYER}
    if args.trace:
        e2e_t, _ = metrics.end_to_end(rec, rec["traced"], wl["kind"])
        shown = metrics.per_layer(rec, wl["kind"], e2e, e2e_t, rec.get("stream_check"))
    else:
        shown = e2e
    print("workload %s seed %d: tail = p%s of %d samples" % (
        name, args.seed, tail_info["tail_percentile"], tail_info["samples"]))
    if wl["kind"] == "stream" and rec["untraced"]["backlog_s"]:
        print("workload %s: backlog %d events, %.1f events/s" % (
            name, rec["untraced"]["backlog_events"],
            rec["untraced"]["backlog_events"] / rec["untraced"]["backlog_s"]))
    for k, v in shown.items():
        print("metric %s %s = %.6g %s" % (name, k, v, unit_of[k]))
    phase = rec["untraced"]
    attempted = phase["attempted"] + (rec["traced"]["attempted"] if rec.get("traced") else 0)
    failed = phase["failed"] + (rec["traced"]["failed"] if rec.get("traced") else 0)
    correct = not fails and failed == 0
    if correct:  # a failing run keeps its directory for inspection
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in shown.items()},
    }))


if __name__ == "__main__":
    main()
