#!/usr/bin/env python3
"""Runs one workload once per seed and reports, per end-to-end metric, the
median and the spread (distance between the first and third quartile as a
share of the median), next to the bound fixed in BENCHMARK.json. Metrics
that are printed but not gated (op_p90_s, peak_rss_mb) are summarised too,
from each run's report.

    python3 perfbench/spread.py --workload analytics --seeds 1-10 --out runs.json

Run from the repository root, like run.py.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--traced-report",
                    help="after the runs, one untraced and one traced run of the first seed; "
                         "the traced report is written here and the ratio of the two is the "
                         "tracing overhead")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    runs = []
    out = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    os.makedirs(out, exist_ok=True)
    report = os.path.join(out, "spread-report-%d.json" % os.getpid())
    for s in seeds(a.seeds):
        t0 = time.time()
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0",
                                  "--report", report]
        r = subprocess.run(cmd, capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit("seed %d failed: %s" % (s, r.stderr[-2000:]))
        result = json.loads(r.stdout.strip().splitlines()[-1])
        result.update(seed=s, wall_s=round(time.time() - t0, 2))
        with open(report) as fh:
            rep = json.load(fh)
        result["not_gated"] = {"op_p90_s": rep["end_to_end"]["op_p90_s"],
                               "peak_rss_mb": rep["peak_rss_mb"]}
        runs.append(result)
        print("seed %d: %.1f s wall, correct=%s, %s" % (
            s, result["wall_s"], result["correct"],
            " ".join("%s=%.4f" % (k, v["value"]) for k, v in result["metrics"].items())),
            flush=True)
    os.remove(report)
    summary = {}
    metrics = [(m["name"], m["bound"], lambda r, k: r["metrics"][k]["value"])
               for m in bench["end_to_end"]]
    metrics += [(k, None, lambda r, k: r["not_gated"][k]) for k in ("op_p90_s", "peak_rss_mb")]
    for name, bound, get in metrics if len(runs) > 1 else ():
        vals = [get(r, name) for r in runs]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4)
        summary[name] = {"median": med, "q1": q[0], "q3": q[2],
                         "spread": (q[2] - q[0]) / med, "bound": bound}
        print("%-12s median %10.4f  spread %.4f  bound %s" % (
            name, med, summary[name]["spread"], "%.2f" % bound if bound else "none"))
    result = {"workload": a.workload, "runs": runs, "summary": summary}
    if a.traced_report:
        # an untraced and a traced run back to back, so host drift between
        # them stays small; their ratio is the tracing overhead
        pair = {}
        for trace in (0, 1):
            cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seeds(a.seeds)[0]),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", str(trace), "--report", a.traced_report]
            r = subprocess.run(cmd, capture_output=True, text=True)
            if r.returncode != 0:
                sys.exit("run for the tracing overhead failed: %s" % r.stderr[-2000:])
            with open(a.traced_report) as fh:
                pair[trace] = json.load(fh)["end_to_end"]
        result["tracing_overhead"] = {k: pair[1][k] / pair[0][k] for k in ("pass_s", "op_p50_s")}
        print("tracing overhead: %s" % result["tracing_overhead"])
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
            fh.write("\n")


if __name__ == "__main__":
    main()
