"""Arithmetic of the graft benchmark: percentiles, interval unions, span
self time, per-pass normalization and the reduction of one run's raw
record (written by the JVM harness) into end-to-end and per-layer metrics.
Pure functions only; `test_metrics.py` covers them."""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

STORE_KINDS = ["pairs", "clusters"]
KERNELS = ["minhash_sigs", "simhash_sig", "winnow_fps", "ngram_hashes",
           "token_entropy", "array_dot"]

# name, unit, better -- the per-layer metrics every traced run prints
PER_LAYER = [
    ("queries.build_s", "s", "lower"),
    ("queries.analysis_s", "s", "lower"),
    ("queries.optimization_s", "s", "lower"),
    ("queries.planning_s", "s", "lower"),
    ("queries.jobs", "count", "lower"),
    ("queries.stages", "count", "lower"),
    ("queries.outside_job_s", "s", "lower"),
    ("queries.outside_job_share", "ratio", "lower"),
    ("ops.tasks", "count", "lower"),
    ("ops.task_deser_s", "s", "lower"),
    ("ops.job_wall_s", "s", "lower"),
    ("ops.task_run_s", "s", "lower"),
    ("ops.task_cpu_s", "s", "lower"),
    ("ops.task_gc_s", "s", "lower"),
    ("ops.busy_cores", "cores", "higher"),
    ("ops.task_busy_share", "ratio", "higher"),
    ("ops.task_skew", "ratio", "lower"),
    ("ops.shuffle_write_bytes", "bytes", "lower"),
    ("ops.shuffle_read_bytes", "bytes", "lower"),
    ("ops.shuffle_fetch_wait_s", "s", "lower"),
    ("ops.spill_bytes", "bytes", "lower"),
    ("ops.failed_tasks", "count", "lower"),
    ("ops.exchanges", "count", "lower"),
    ("ops.broadcasts", "count", "lower"),
    ("tables.input_bytes", "bytes", "lower"),
    ("tables.input_records", "count", "lower"),
] + [("functions.%s_s" % k, "s", "lower") for k in KERNELS] + [
    ("stores.derive_s", "s", "lower"),
] + [("stores.derive_s.%s" % k, "s", "lower") for k in STORE_KINDS] + [
    ("stores.bytes", "bytes", "lower"),
    ("stores.load_s", "s", "lower"),
    ("stores.rederive_count", "count", "lower"),
    ("stores.dirs", "count", "lower"),
    ("pipeline.bronze_s", "s", "lower"),
    ("pipeline.silver_s", "s", "lower"),
    ("pipeline.gold_s", "s", "lower"),
    ("pipeline.add_batch_s", "s", "lower"),
    ("pipeline.state_rows_peak", "count", "lower"),
    ("pipeline.state_bytes_peak", "bytes", "lower"),
    ("pipeline.quarantine_rows", "count", "lower"),
    ("pipeline.watermark_dropped_rows", "count", "lower"),
    ("pipeline.start_s", "s", "lower"),
    ("pipeline.query_planning_s", "s", "lower"),
    ("pipeline.wal_commit_s", "s", "lower"),
    ("pipeline.commit_offsets_s", "s", "lower"),
    ("pipeline.get_batch_s", "s", "lower"),
    ("pipeline.latest_offset_s", "s", "lower"),
    ("pipeline.batches", "count", "lower"),
    ("pipeline.empty_batch_ratio", "ratio", "lower"),
    ("jvm.gc_s", "s", "lower"),
] + [("trace.self.%s_s" % k, "s", "lower") for k in
     ["query", "build", "execute", "job", "stage", "drain", "tier", "start", "batch"]] + [
    ("overhead.pass_s", "s", "lower"),
    ("overhead.latency_p50_s", "s", "lower"),
    ("overhead.latency_tail_s", "s", "lower"),
    ("overhead.heap_retained_mb", "MB", "lower"),
]

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("latency_p50_s", "s", "lower"),
    ("latency_tail_s", "s", "lower"),
    ("heap_retained_mb", "MB", "lower"),
    ("ok_ratio", "ratio", "higher"),
]


def tail(values):
    """The highest percentile with at least 10 samples above it, never
    below the median: (value, percentile, sample count). With fewer than
    21 samples that is the median itself."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, None, 0
    i = max(n - 11, n // 2)
    return xs[i], round(100.0 * (i + 1) / n, 1), n


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0
    end = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans):
    """Span id -> its duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"]) -
            union_length(clip(kids.get(s["id"], []), s["start_us"], s["end_us"]))
            for s in spans}


def row_hash_record(rows):
    """Order-independent record of a result: row count and the sum, mod
    2^64, of a per-row hash over a canonical rendering (floats to 10
    significant digits), so a reordering never changes it but a changed,
    missing or duplicated row does."""
    import hashlib

    def canon(v):
        if isinstance(v, float):
            return "nan" if v != v else format(v, ".10g")
        if isinstance(v, dict):
            return "{" + ",".join("%s:%s" % (k, canon(v[k])) for k in sorted(v)) + "}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        return repr(v)

    acc = 0
    n = 0
    for r in rows:
        h = hashlib.sha256(canon(list(r)).encode()).digest()
        acc = (acc + int.from_bytes(h[:8], "little")) % (1 << 64)
        n += 1
    return {"rows": n, "hash": "%016x" % acc}


def compare_record(expected, got):
    """None when the records agree, else a one-line reason."""
    if expected is None:
        return "no expected record"
    if expected["rows"] != got["rows"]:
        return "rows %d != expected %d" % (got["rows"], expected["rows"])
    if expected["hash"] != got["hash"]:
        return "hash %s != expected %s" % (got["hash"], expected["hash"])
    return None


def bad_names(names):
    return [n for n in names if not NAME_RE.match(n)]


# ---- reduction of one run -------------------------------------------------

def batch_latency(phase):
    """pass_s (sum over the query set of each query's median latency) and
    the latencies of the successful queries."""
    by_q = {}
    for s in phase["samples"]:
        if s["ok"]:
            by_q.setdefault(s["query"], []).append(s["s"])
    pass_s = sum(statistics.median(v) for v in by_q.values())
    lat = [s["s"] for s in phase["samples"] if s["ok"]]
    return pass_s, lat


def end_to_end(rec, phase, kind):
    if kind == "batch":
        pass_s, lat = batch_latency(phase)
    else:
        pass_s = phase["backlog_s"] or 0.0
        lat = [i["lag_s"] for i in phase["increments"]]
    p50 = statistics.median(lat) if lat else 0.0
    t, pct, n = tail(lat)
    attempted = phase["attempted"]
    ok = (attempted - phase["failed"]) / attempted if attempted else 0.0
    return {
        "setup_s": rec["setup_s"], "pass_s": pass_s, "latency_p50_s": p50,
        "latency_tail_s": t or 0.0, "heap_retained_mb": phase["heap_mb"],
        "ok_ratio": ok,
    }, {"tail_percentile": pct, "samples": n}


def _unit_layers(spans_by_id, unit, jobs, stages, plans):
    """Layer counts for one unit of work (a query run or a drain): the
    jobs whose parent span lies under it, their stages, and the plans whose
    analysis began inside it."""
    lo, hi = unit["start_us"], unit["end_us"]
    under = {unit["id"]}
    for s in spans_by_id.values():
        if s["trace"] == unit["trace"]:
            under.add(s["id"])
    ujobs = [j for j in jobs if j["parent"] in under]
    jids = {j["id"] for j in ujobs}
    ustages = [s for s in stages if s["job"] in jids]
    uplans = [p for p in plans if lo <= p["at_us"] <= hi]
    job_iv = clip([(j["start_us"], j["end_us"]) for j in ujobs], lo, hi)
    wall = (hi - lo) / 1e6
    job_wall = union_length(job_iv) / 1e6
    out = {
        "queries.analysis_s": sum(p["analysis_ms"] for p in uplans) / 1e3,
        "queries.optimization_s": sum(p["optimization_ms"] for p in uplans) / 1e3,
        "queries.planning_s": sum(p["planning_ms"] for p in uplans) / 1e3,
        "queries.jobs": len(ujobs),
        "queries.stages": len(ustages),
        "queries.outside_job_s": wall - job_wall,
        "ops.job_wall_s": job_wall,
        "ops.tasks": sum(s["tasks"] for s in ustages),
        "ops.task_deser_s": sum(s["deser_ms"] for s in ustages) / 1e3,
        "ops.task_run_s": sum(s["run_ms"] for s in ustages) / 1e3,
        "ops.task_cpu_s": sum(s["cpu_ns"] for s in ustages) / 1e9,
        "ops.task_gc_s": sum(s["gc_ms"] for s in ustages) / 1e3,
        "ops.shuffle_write_bytes": sum(s["shuffle_write"] for s in ustages),
        "ops.shuffle_read_bytes": sum(s["shuffle_read"] for s in ustages),
        "ops.shuffle_fetch_wait_s": sum(s["fetch_wait_ms"] for s in ustages) / 1e3,
        "ops.spill_bytes": sum(s["spill"] for s in ustages),
        "ops.failed_tasks": sum(s["failed_tasks"] for s in ustages),
        "ops.exchanges": sum(p["exchanges"] for p in uplans),
        "ops.broadcasts": sum(p["broadcasts"] for p in uplans),
        "tables.input_bytes": sum(s["input_bytes"] for s in ustages),
        "tables.input_records": sum(s["input_records"] for s in ustages),
    }
    return out, ustages


def _skew(stages):
    ratios = []
    for s in stages:
        ts = sorted(s["task_ms"])
        if len(ts) >= 2 and statistics.median(ts) > 0:
            ratios.append(ts[-1] / statistics.median(ts))
    return statistics.median(ratios) if ratios else 1.0


def _span_kind(name):
    return name.split(":", 1)[0]


def _self_by_kind(trace, units):
    """Self time per span kind summed over `units` (span dicts), with jobs
    and stages joined in as spans below the span that submitted them."""
    spans = list(trace["spans"])
    keep = set()
    traces = {u["trace"] for u in units}
    for s in spans:
        if s["trace"] in traces:
            keep.add(s["id"])
    all_spans = [s for s in spans if s["id"] in keep]
    jobs = [j for j in trace["jobs"] if j["parent"] in keep]
    job_span = {}
    next_id = -1
    for j in jobs:
        job_span[j["id"]] = next_id
        all_spans.append({"id": next_id, "parent": j["parent"], "trace": 0,
                          "name": "job", "start_us": j["start_us"], "end_us": j["end_us"]})
        next_id -= 1
    for st in trace["stages"]:
        if st["job"] in job_span and st["end_us"] > 0:
            all_spans.append({"id": next_id, "parent": job_span[st["job"]], "trace": 0,
                              "name": "stage", "start_us": st["start_us"], "end_us": st["end_us"]})
            next_id -= 1
    selfs = self_times(all_spans)
    out = {}
    for s in all_spans:
        k = _span_kind(s["name"])
        out[k] = out.get(k, 0.0) + selfs[s["id"]] / 1e6
    return out


def per_layer(rec, kind, e2e_untraced, e2e_traced, stream_check=None):
    trace = rec["trace"]
    phase = rec["traced"]
    extras = rec.get("extras") or {}
    spans_by_id = {s["id"]: s for s in trace["spans"]}
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    cpus = rec["cpus"]

    if kind == "batch":
        units = [s for s in trace["spans"] if s["name"].startswith("query:")]
        nq = len(rec["names"])
        per_q = {}
        all_stages = []
        for u in units:
            lay, st = _unit_layers(spans_by_id, u, trace["jobs"], trace["stages"], trace["plans"])
            all_stages += st
            build = sum((s["end_us"] - s["start_us"]) / 1e6 for s in trace["spans"]
                        if s["trace"] == u["trace"] and s["name"] == "build")
            lay["queries.build_s"] = build
            per_q.setdefault(u["name"], []).append(lay)
        # per pass: each query's mean over its runs, summed over the set
        keys = set(k for runs in per_q.values() for r in runs for k in r)
        for k in keys:
            m[k] = sum(statistics.mean(r[k] for r in runs) for runs in per_q.values())
        passes = len(units) / nq if nq else 1.0
        m["jvm.gc_s"] = phase["gc_s"] / passes if passes else 0.0
        selfs = _self_by_kind(trace, units)
        for k, v in selfs.items():
            if "trace.self.%s_s" % k in m:
                m["trace.self.%s_s" % k] = v / passes
        m["ops.task_skew"] = _skew(all_stages)
        m["stores.rederive_count"] = rec["untraced"]["store_publishes"] + phase["store_publishes"]
    else:
        drains = sorted((s for s in trace["spans"] if s["name"] == "drain"),
                        key=lambda s: s["start_us"])
        backlog, incs = drains[0], drains[1:]
        n = max(len(incs), 1)
        lay, st = _unit_layers(spans_by_id, backlog, trace["jobs"], trace["stages"], trace["plans"])
        m.update(lay)
        m["ops.task_skew"] = _skew(st)
        prog = trace["progress"]

        def tier_of(p):
            return p["query"].split("_", 1)[0]

        def in_span(p, s):
            return s["start_us"] <= p["start_us"] <= s["end_us"]

        def spans_of(d, name):
            return [s for s in trace["spans"] if s["trace"] == d["trace"] and s["name"] == name]

        for t in ("bronze", "silver", "gold"):
            m["pipeline.%s_s" % t] = sum((s["end_us"] - s["start_us"]) / 1e6
                                         for s in spans_of(backlog, "tier:" + t))
        m["pipeline.add_batch_s"] = sum(p["add_batch_ms"] for p in prog if in_span(p, backlog)) / 1e3
        m["pipeline.state_rows_peak"] = max([p["state_rows"] for p in prog] or [0])
        m["pipeline.state_bytes_peak"] = max([p["state_bytes"] for p in prog] or [0])
        m["pipeline.watermark_dropped_rows"] = sum(p["dropped_rows"] for p in prog)
        if stream_check:
            m["pipeline.quarantine_rows"] = stream_check["bronze_quarantine"] + sum(
                stream_check["silver_quarantine"].values())
        # fixed per-trigger costs: means over the increments
        for d in incs:
            dp = [p for p in prog if in_span(p, d)]
            m["pipeline.start_s"] += sum((s["end_us"] - s["start_us"]) / 1e6
                                         for s in spans_of(d, "start")) / n
            m["pipeline.query_planning_s"] += sum(p["planning_ms"] for p in dp) / 1e3 / n
            m["pipeline.wal_commit_s"] += sum(p["wal_commit_ms"] for p in dp) / 1e3 / n
            m["pipeline.commit_offsets_s"] += sum(p["commit_offsets_ms"] for p in dp) / 1e3 / n
            m["pipeline.get_batch_s"] += sum(p["get_batch_ms"] for p in dp) / 1e3 / n
            m["pipeline.latest_offset_s"] += sum(p["latest_offset_ms"] for p in dp) / 1e3 / n
            m["pipeline.batches"] += len(dp) / n
        m["pipeline.empty_batch_ratio"] = (
            sum(1 for p in prog if p["rows"] == 0) / len(prog) if prog else 0.0)
        m["jvm.gc_s"] = phase["gc_s"]
        # self time over the increments: drain -> tier -> (start, micro-batch)
        traces = {d["trace"] for d in incs}
        spans = [s for s in trace["spans"] if s["trace"] in traces]
        tiers = [s for s in spans if s["name"].startswith("tier:")]
        for k, p in enumerate(prog):
            parent = next((t["id"] for t in tiers if in_span(p, t)
                           and t["name"] == "tier:" + tier_of(p)), None)
            if parent is not None:
                spans.append({"id": -1 - k, "parent": parent, "name": "batch",
                              "start_us": p["start_us"],
                              "end_us": p["start_us"] + p["trigger_ms"] * 1000})
        selfs = self_times(spans)
        for s in spans:
            key = "trace.self.%s_s" % _span_kind(s["name"])
            if key in m:
                m[key] += selfs[s["id"]] / 1e6 / n

    q_wall = m["queries.outside_job_s"] + m["ops.job_wall_s"]
    m["queries.outside_job_share"] = m["queries.outside_job_s"] / q_wall if q_wall else 0.0
    m["ops.busy_cores"] = m["ops.task_run_s"] / m["ops.job_wall_s"] if m["ops.job_wall_s"] else 0.0
    m["ops.task_busy_share"] = m["ops.task_run_s"] / (q_wall * cpus) if q_wall else 0.0

    for k in KERNELS:
        m["functions.%s_s" % k] = (extras.get("kernels") or {}).get(k, 0.0)
    for k, v in rec["store_derive_s"].items():
        m["stores.derive_s.%s" % k] = v
    m["stores.derive_s"] = sum(rec["store_derive_s"].values())
    m["stores.bytes"] = sum(rec["store_bytes"].values())
    m["stores.load_s"] = extras.get("stores_load_s", 0.0)
    m["stores.dirs"] = rec["store_dirs"]
    for k in ("pass_s", "latency_p50_s", "latency_tail_s", "heap_retained_mb"):
        m["overhead." + k] = e2e_traced[k] - e2e_untraced[k]
    return m
