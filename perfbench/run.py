#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source (sbt, offline); the build is cached under
$CARGO_TARGET_DIR (default .bench_build) and redone when a source file
changes. The input tables are the engine's sf0.01 test data, kept in
perfbench/data. The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics: the end-to-end
metrics with --trace 0, the per-layer metrics of a traced run with
--trace 1. See perfbench/README.md for the workloads and metrics.

Other modes:
    --report FILE   also write the full report (environment, every metric,
                    sample counts, span self times, failures) as JSON
    --record        re-record perfbench/expected.json from three passes of
                    two seeds per read workload
"""

import argparse
import collections
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ["analytics", "dedup_search", "ingest_write"]
DATA = os.path.join(HERE, "data")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# the gated end-to-end metrics, as in BENCHMARK.json
END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s"}


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_home():
    """SPARK_HOME, else the first installation on PATH whose bin/ holds
    spark-submit next to a jars/ directory."""
    home = os.environ.get("SPARK_HOME")
    for d in [] if home else os.environ.get("PATH", "").split(os.pathsep):
        cand = os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        if os.path.isfile(os.path.join(d, "spark-submit")) and os.path.isdir(os.path.join(cand, "jars")):
            home = cand
            break
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("set SPARK_HOME to a Spark installation (its jars/ directory is the classpath)")
    return home


def spark_jars():
    return os.path.join(spark_home(), "jars")


def build(root, out):
    """Compiles engine + benchmark unless the sources are unchanged."""
    digest = source_digest(root)
    stamp = os.path.join(out, "build.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes, digest
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Djava.io.tmpdir=" + os.path.join(out, "tmp")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                           env=env, stdout=fh, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        fail("build failed, see " + log)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes, digest


def java_cmd(classes, main, args, out, extra=()):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx" + HEAP, "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(out, "tmp")]
    cmd += list(extra)
    cmd += ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), main] + list(args)
    return cmd


def run_java(cmd, log, timeout):
    """Runs `cmd`; returns its exit code, or None on timeout. The child is
    killed and reaped however this function is left."""
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def run_once(classes, data, out, workload, seed, seconds, trace, passes=0):
    """One JVM run; returns the raw record."""
    run_dir = os.path.join(out, "runs", "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "warehouse", "local"):
        os.makedirs(os.path.join(run_dir, d))
    raw = os.path.join(run_dir, "record.json")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data, "--out", raw, "--nproc", str(len(os.sched_getaffinity(0)))]
    if passes:
        args += ["--passes", str(passes)]
    extra = ["-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
             "-Dspark.local.dir=" + os.path.join(run_dir, "local")]
    log = os.path.join(out, "runs", "%s-%d.log" % (workload, seed))
    rc = run_java(java_cmd(classes, "perfbench.Main", args, run_dir, extra), log, JVM_TIMEOUT_S)
    try:
        if rc != 0:
            fail("%s run %s, see %s" % (workload, "timed out" if rc is None else "exited %d" % rc, log))
        with open(raw) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def record_expected(classes, data, out):
    """Digests per catalog row from three passes of two seeds, plus the
    traced run's probed rows; a row whose digest varies keeps only a stable
    row count (or nothing)."""
    expected = {}
    for w in ("analytics", "dedup_search"):
        seen = {}
        for seed in (101, 202):
            rec = run_once(classes, data, out, w, seed, 0, 1, passes=3)
            for o in rec["ops"] + rec["extra"].get("probe_ops", []):
                if not o["ok"]:
                    fail("%s failed while recording: %s" % (o["name"], o.get("err")))
                seen.setdefault(o["name"], []).append((o["rows"], o["hash"]))
        expected[w] = {}
        for name, vals in sorted(seen.items()):
            rows = {v[0] for v in vals}
            hashes = {v for v in vals}
            expected[w][name] = {"rows": vals[0][0] if len(rows) == 1 else None,
                                 "hash": vals[0][1] if len(hashes) == 1 else None}
            if len(hashes) > 1:
                print("unstable digest: %s/%s %s" % (w, name, sorted(hashes)), file=sys.stderr)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main():
    # a terminated benchmark unwinds normally, so run_java reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the engine sources (src/main/scala/graft) are missing")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    t_build = time.time()
    classes, digest = build(root, out)
    t_build = time.time() - t_build
    if a.record:
        record_expected(classes, DATA, out)
        return
    if not a.workload or a.seconds is None:
        fail("--workload and --seconds are required")

    rec = run_once(classes, DATA, out, a.workload, a.seed, a.seconds, a.trace)
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh).get(a.workload, {})
    attempted, failed, bad = metrics.check(rec, expected)
    e2e, samples = metrics.end_to_end(rec)
    env = dict(rec["env"], git_commit=git_commit(root), source_digest=digest,
               build_s=round(t_build, 3))
    by_name = {}
    for o in rec["ops"]:
        by_name.setdefault(o["name"], []).append((o["t1"] - o["t0"]) / 1e3)
    report = {"env": env, "end_to_end": e2e, "samples": samples, "attempted": attempted,
              "failed": failed, "failures": bad,
              "op_median_s": {k: statistics.median(v) for k, v in sorted(by_name.items())},
              "setup": rec["setup"], "warm_s": rec["warm_s"]}
    print("env: " + json.dumps(env, sort_keys=True))
    for k, v in e2e.items():
        n = {"pass_s": samples["passes"], "setup_s": samples["setups"]}.get(k, samples["ops"])
        print("%-14s %12.4f s   n=%d%s" % (k, v, n, "" if k in END_TO_END_UNITS else "  (not gated)"))
    # reported, not gated: the peak RSS of a G1 JVM follows its heap-sizing
    # policy more than live data and spread ~26% across seeds
    print("%-14s %12.4f MB" % ("peak_rss_mb", rec["peak_rss_mb"]))
    report["peak_rss_mb"] = rec["peak_rss_mb"]
    print("op_p90_s has %d samples beyond it; highest percentile with >= 10 beyond: %s"
          % (samples["beyond_p90"], samples["highest_reportable"]))
    docs = sum(o.get("docs", 0) for o in rec["ops"])
    if docs:
        wall = sum(p["t1"] - p["t0"] for p in rec["passes"]) / 1e3
        report["ingest_docs_per_s"] = docs / wall
        print("%-14s %12.4f docs/s" % ("ingest_docs_per_s", docs / wall))
    print("fail_ratio     %12.4f     (%d of %d)" % (failed / attempted, failed, attempted))
    for b in bad:
        print("  check failed: " + b)
    print("output check: %s" % ("pass" if not bad else "FAIL"))
    if a.trace:
        layer = metrics.per_layer(rec, rec["env"]["nproc"])
        report["per_layer"] = layer
        report["span_self_s"] = {k: {"count": v["count"], "total_s": v["total"] / 1e3,
                                     "self_s": v["self"] / 1e3}
                                 for k, v in metrics.self_times(rec["trace"]["spans"]).items()}
        report["sql_kinds"] = dict(collections.Counter(
            "%s/%s" % (q["func"], q["node"]) for q in rec["trace"]["sql"]))
        report["job_objects"] = dict(collections.Counter(
            metrics.attribute_jobs(rec["trace"]["jobs"], rec["trace"]["exec_sites"],
                                   rec["row_family"], None)))
        report["ingest_check"] = {k: v for k, v in rec["extra"].items() if not k.endswith("_per_s")}
        for k, v in layer.items():
            print("%-40s %14.4f" % (k, v))
        out_metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        out_metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    if a.report:
        with open(a.report, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
            fh.write("\n")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


def unit_of(name):
    if name.endswith("_rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("core_util") or name.endswith("write_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
