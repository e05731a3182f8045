"""Arithmetic of the benchmark: turns the raw run record written by
perfbench.Main into end-to-end and per-layer metrics and checks outputs.
Pure functions, covered by test_metrics.py."""

import math
import re
import statistics

# Objects whose jobs get their own per-layer counters; every other job is
# counted under "other".
OBJECTS = [
    "operators.KMeansPolish", "operators.MLOps", "operators.Rules", "operators.KdeNb",
    "operators.Cleaning", "operators.Dedup", "operators.Similarity",
    "operators.TextAnalysis", "operators.Staging", "operators.Tombstones",
    "operators.Fence", "pipeline.CarClusteringPipeline", "streaming.IngestLoop",
    "queries.RelationalQueries", "queries.StatsQueries", "queries.MLQueries",
    "queries.TextQueries", "other",
]
KERNELS = ["minhash", "simhash", "bpe", "dot", "pq_lut"]
SHORT_JOB_MS = 100.0
MB = 1e6


def percentile(values, p):
    """Type-7 (linear interpolation) percentile, p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    h = (len(xs) - 1) * p / 100.0
    lo = math.floor(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (h - lo) * (xs[hi] - xs[lo])


def beyond(values, p):
    """Number of samples strictly above the p-th percentile."""
    v = percentile(values, p)
    return sum(1 for x in values if x > v)


def highest_reportable(values, candidates=(99.9, 99, 95, 90, 75, 50), need=10):
    """Highest candidate percentile with at least `need` samples beyond it,
    or None when even the median has fewer."""
    for p in candidates:
        if beyond(values, p) >= need:
            return p
    return None


def union_length(intervals, window=None):
    """Length covered by the union of (t0, t1) intervals, optionally
    clipped to a (t0, t1) window."""
    segs = []
    for a, b in intervals:
        if window is not None:
            a, b = max(a, window[0]), min(b, window[1])
        if b > a:
            segs.append((a, b))
    segs.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(window, job_intervals):
    """Wall time of `window` that no job covers."""
    return (window[1] - window[0]) - union_length(job_intervals, window)


def self_times(spans):
    """Per span name: count, total and self time (duration minus the part
    covered by the span's direct children), in the spans' time unit."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        dur = s["t1"] - s["t0"]
        own = dur - union_length(children.get(s["id"], []), (s["t0"], s["t1"]))
        agg = out.setdefault(s["name"], {"count": 0, "total": 0.0, "self": 0.0})
        agg["count"] += 1
        agg["total"] += dur
        agg["self"] += own
    return out


_FRAME = re.compile(r"^\s*(?:at\s+)?graft\.([A-Za-z0-9_$.]+?)\.[^.(]+\(")


def attribute(call_site, tracked=OBJECTS):
    """`<pkg>.<Object>` of the first graft frame of a job's long call
    site; "other" when that object is not in `tracked` (None tracks
    every object) or the site has no graft frame."""
    for line in call_site.splitlines():
        m = _FRAME.match(line)
        if not m:
            continue
        parts = m.group(1).split(".")
        name = parts[0].split("$")[0] if len(parts) < 2 else \
            parts[0] + "." + parts[1].split("$")[0]
        return name if tracked is None or name in tracked else "other"
    return "other"


def attribute_jobs(jobs, exec_sites, row_family, tracked=OBJECTS):
    """Object of each job: the first graft frame of the job's call site;
    else of the call site of its SQL execution (adaptive execution submits
    stages from its own threads); else, for the final action the benchmark
    itself calls on a catalog row, the row's catalog object."""
    out = []
    for j in jobs:
        site = j["site"]
        if not _FRAME_ANY.search(site):
            site = exec_sites.get(j.get("exec"), site)
        if not _FRAME_ANY.search(site) and row_family.get(j.get("row")):
            site = "graft.%s$.row(catalog)" % row_family[j["row"]]
        out.append(attribute(site, tracked))
    return out


_FRAME_ANY = re.compile(r"^\s*(?:at\s+)?graft\.", re.M)

# Commands that write files; every other eagerly executed command is DDL.
_WRITE = re.compile(r"Insert|AppendData|Overwrite|AsSelect|SaveAs|WriteFiles")


def is_ddl(q):
    return q["func"] == "command" and not _WRITE.search(q["node"])


def is_file_write(q):
    return q["node"] == "InsertIntoHadoopFsRelationCommand"


def _in(t, windows):
    return any(a <= t <= b for a, b in windows)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec):
    """The untraced metrics (set-up, pass, per-operation latency) and the
    sample counts behind them."""
    passes = [(p["t1"] - p["t0"]) / 1e3 for p in rec["passes"]]
    ops = [(o["t1"] - o["t0"]) / 1e3 for o in rec["ops"]]
    return {
        "setup_s": rec["setup"]["session_s"] + rec["setup"]["touch_s"] + rec["warm_s"],
        "pass_s": _median(passes),
        "op_p50_s": percentile(ops, 50),
        "op_p90_s": percentile(ops, 90),
    }, {"setups": 1, "passes": len(passes), "ops": len(ops),
        "beyond_p90": beyond(ops, 90), "highest_reportable": highest_reportable(ops)}


def per_layer(rec, cores):
    """Per-layer metrics of a traced run, per timed pass (per batch for
    streaming.*)."""
    tr = rec["trace"]
    windows = [(p["t0"], p["t1"]) for p in rec["passes"]]
    n = max(len(windows), 1)
    jobs = [j for j in tr["jobs"] if _in(j["t0"], windows)]
    stages = [s for s in tr["stages"] if _in(s["t1"], windows)]
    sql = [q for q in tr["sql"] if _in(q["t1"], windows)]
    spans = tr["spans"]
    ivs = [(j["t0"], j["t1"]) for j in jobs]
    job_ms = sum(union_length(ivs, w) for w in windows)
    wall_ms = sum(b - a for a, b in windows)
    task_s = sum(s["task_s"] for s in stages)
    m = {
        "setup.session_s": rec["setup"]["session_s"],
        "setup.warmup_s": rec["warm_s"],
    }
    timed = [s for s in spans if re.search(r"/p[1-9][0-9]*/", s["trace"])]
    for k in ("build", "plan", "exec"):
        ks = [s for s in timed if s["name"] == "queries." + k]
        m["queries.%s_s" % k] = sum(s["t1"] - s["t0"] for s in ks) / 1e3 / n
        if k != "plan":
            m["queries.%s_jobs" % k] = sum(
                1 for j in jobs if _in(j["t0"], [(s["t0"], s["t1"]) for s in ks])) / n
    ddl = [q for q in sql if is_ddl(q)]
    m.update({
        "spark.jobs": len(jobs) / n,
        "spark.jobs_short": sum(1 for j in jobs if j["t1"] - j["t0"] < SHORT_JOB_MS) / n,
        "spark.job_s": job_ms / 1e3 / n,
        "spark.driver_gap_s": (wall_ms - job_ms) / 1e3 / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(s["tasks"] for s in stages) / n,
        "spark.task_s": task_s / n,
        "spark.task_cpu_s": sum(s["cpu_s"] for s in stages) / n,
        "spark.gc_s": sum(s["gc_s"] for s in stages) / n,
        "spark.core_util": task_s / (job_ms / 1e3 * cores) if job_ms else 0.0,
        "spark.straggler_s": sum(s["task_max_s"] - s["task_median_s"] for s in stages) / n,
        "spark.input_mb": sum(s["input_b"] for s in stages) / MB / n,
        "spark.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / MB / n,
        "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / MB / n,
        "spark.spill_mb": sum(s["spill_b"] for s in stages) / MB / n,
        "spark.output_mb": sum(s["output_b"] for s in stages) / MB / n,
        "spark.failed_tasks": sum(s["failed_tasks"] for s in stages) / n,
        "spark.sql_actions": sum(1 for q in sql if q["func"] != "command") / n,
        "spark.ddl_ops": len(ddl) / n,
        "spark.ddl_s": sum(q["dur_s"] for q in ddl) / n,
    })
    # per pass, plus the jobs of the fit probe (run once, outside the passes)
    probe = [(s["t0"], s["t1"]) for s in spans if s["name"] == "probe.fit"]
    probe_jobs = [j for j in tr["jobs"] if _in(j["t0"], probe)]
    per_obj = {o: [0.0, 0.0] for o in OBJECTS}
    for js, weight in ((jobs, 1.0 / n), (probe_jobs, 1.0)):
        for j, o in zip(js, attribute_jobs(js, tr["exec_sites"], rec["row_family"])):
            acc = per_obj[o]
            acc[0] += weight
            acc[1] += weight * (j["t1"] - j["t0"]) / 1e3
    for o, (c, s) in per_obj.items():
        m[o + ".jobs"] = c
        m[o + ".job_s"] = s
    m.update(streaming(rec, jobs, stages, sql, spans))
    for k in KERNELS:
        m["functions.%s_rows_per_s" % k] = rec["extra"].get(k + "_rows_per_s", 0.0)
    return m


def streaming(rec, jobs, stages, sql, spans):
    """Per-batch write-path metrics (zero outside ingest_write)."""
    batches = [o for o in rec["ops"] if o["name"] == "batch"]
    nb = len(batches)
    keys = ["batch_jobs", "batch_gap_s", "batch_ddl_s", "batch_append_s", "compact_s",
            "files_per_batch", "write_amp"]
    if not nb:
        return {"streaming." + k: 0.0 for k in keys}
    bspans = [(s["t0"], s["t1"]) for s in spans if s["name"] == "streaming.batch"]
    cspans = [(s["t0"], s["t1"]) for s in spans if s["name"] == "streaming.compact"]
    gap = sum(driver_gap(w, [(j["t0"], j["t1"]) for j in jobs]) for w in bspans)
    writes = bspans + cspans
    text = sum(o["text_bytes"] for o in batches)
    return {
        "streaming.batch_jobs": sum(1 for j in jobs if _in(j["t0"], bspans)) / nb,
        "streaming.batch_gap_s": gap / 1e3 / nb,
        "streaming.batch_ddl_s": sum(q["dur_s"] for q in sql
                                     if is_ddl(q) and _in(q["t1"], bspans)) / nb,
        "streaming.batch_append_s": sum(q["dur_s"] for q in sql
                                        if is_file_write(q) and _in(q["t1"], bspans)) / nb,
        "streaming.compact_s": sum(b - a for a, b in cspans) / 1e3 / nb,
        "streaming.files_per_batch": sum(o["new_files"] for o in batches) / nb,
        "streaming.write_amp": sum(s["output_b"] for s in stages if _in(s["t1"], writes))
        / text if text else 0.0,
    }


def check(rec, expected):
    """Output check of every timed operation and probed row, and of the
    ingest loop's final state. Returns (attempted, failed, mismatches)."""
    bad = []
    ops = rec["ops"] + rec["extra"].get("probe_ops", [])
    for o in ops:
        if not o["ok"]:
            bad.append("%s: %s" % (o["name"], o.get("err", "failed")))
        elif o["name"] != "batch":
            exp = expected.get(o["name"])
            if exp is None:
                bad.append("%s: no expected digest" % o["name"])
            elif exp.get("rows") is not None and exp["rows"] != o["rows"]:
                bad.append("%s: %s rows, expected %s" % (o["name"], o["rows"], exp["rows"]))
            elif exp.get("hash") is not None and exp["hash"] != o["hash"]:
                bad.append("%s: content digest %s, expected %s" % (o["name"], o["hash"], exp["hash"]))
    attempted = len(ops)
    x = rec["extra"]
    if "loop_hash" in x:
        attempted += 1
        if (x["loop_ids"], x["loop_hash"]) != (x["oneshot_ids"], x["oneshot_hash"]):
            bad.append("ingest components (%s ids, %s) differ from one-shot (%s ids, %s)" % (
                x["loop_ids"], x["loop_hash"], x["oneshot_ids"], x["oneshot_hash"]))
        elif x["planted_found"] != x["planted"]:
            bad.append("ingest: %s of %s planted copies share their source's component" % (
                x["planted_found"], x["planted"]))
    return attempted, len(bad), bad
