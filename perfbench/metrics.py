"""Pure logic of the benchmark: percentiles, span self time, canonical result
hashes, stream reconciliation, the same-work check and the metrics
themselves. No I/O and no clocks; `run.py` feeds it the record the JVM
wrote and `test_metrics.py` tests it.

Times in the record are nanoseconds since the JVM's main entry. A pass is
the timed region of one full workload pass; spans carry the id of the pass
they ran in.
"""
import hashlib
import math
import statistics
from collections import defaultdict

# The reference jobs `etl`, `edw` and `cms`, then the takedown job. The
# reference `fm` job is left out: it fails on malformed lines (README.md).
STREAM_JOBS = ("etl", "edw", "cms", "takedown")
# Row counts of a stream pass's sinks: the three reference jobs' raw sinks,
# then the takedown job's two outputs.
SINK_ROWS = ("etl_rows", "edw_rows", "cms_rows", "kept", "removed")
ACTION_SPANS = ("query.action", "stream.drain")
OP_SPANS = ("query", "stream.job")


def percentile(values, q):
    """Linearly interpolated q-th percentile (0 <= q <= 100) and the number
    of samples strictly above it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    value = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return value, sum(1 for x in xs if x > value)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans, jobs):
    """Per span name: count, total seconds and self seconds. Self time is a
    span's duration minus the part of it that its child spans, and the Spark
    jobs attributed to it, cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]].append((s["start"], s["end"]))
    for j in jobs:
        if j["span"] >= 0 and j["end"] >= 0:
            children[j["span"]].append((j["start"], j["end"]))
    out = {}
    for s in spans:
        dur = s["end"] - s["start"]
        covered = union_length(clip(children[s["id"]], s["start"], s["end"]))
        row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        row["count"] += 1
        row["total_s"] += dur / 1e9
        row["self_s"] += (dur - covered) / 1e9
    return out


def canonical_hash(rows):
    """md5 over a result's rows, each rendered as one JSON object with its
    columns in name order; row order does not matter."""
    return hashlib.md5("\n".join(sorted(rows)).encode("utf-8")).hexdigest()


def hash_failures(checks, expected):
    """Compare every collected result with its committed hash."""
    failures = []
    by_pass = defaultdict(dict)
    for c in checks:
        by_pass[c["pass"]][c["query"]] = c["rows"]
    for pid, results in sorted(by_pass.items()):
        for query, want in sorted(expected.items()):
            if query not in results:
                failures.append(f"{pid}/{query}: no result")
            elif canonical_hash(results[query]) != want:
                failures.append(f"{pid}/{query}: hash {canonical_hash(results[query])} != {want}")
    return failures


def reconcile_stream(c):
    """Check one stream pass's outputs against what was landed."""
    f = []

    def need(ok, what):
        if not ok:
            f.append(f"{c['pass']}: {what}")

    lines, bad = c["lines"], c["malformed_injected"]
    for key in SINK_ROWS[:3]:
        need(c[key] == lines, f"{key} {c[key]} != lines landed {lines}")
    need(c["malformed_rows"] == bad, f"malformed_rows {c['malformed_rows']} != injected {bad}")
    need(c["kept"] + c["removed"] == lines,
         f"takedown kept {c['kept']} + removed {c['removed']} != lines {lines}")
    need(c["removed"] == c["expected_removed"],
         f"takedown removed {c['removed']} != banned rows present {c['expected_removed']}")
    for job in STREAM_JOBS:
        need(c["batches"].get(job) == c["files"],
             f"{job} ran {c['batches'].get(job)} batches for {c['files']} files")
    need(c["failed_batches"] == 0, f"{c['failed_batches']} failed batches")

    exact = {(b, k): n for b, k, n in c["cms_exact"]}
    estimates = {(b, k): n for b, k, n in c["cms_estimates"]}
    for k, n in c["keywords_injected"].items():
        seen = sum(v for (_, kw), v in exact.items() if kw == k)
        need(seen == n, f"cms: {seen} '{k}' tokens in the sink, {n} injected")
        need(n > 0, f"cms: no '{k}' injected")
    batches = sorted({b for b, _ in estimates})
    need(len(batches) == c["files"], f"cms: estimates for {len(batches)} batches")
    for b in batches:
        for k in c["keywords_injected"]:
            est = estimates.get((b, k))
            need(est is not None and est >= exact.get((b, k), 0),
                 f"cms: batch {b} '{k}' estimate {est} < exact {exact.get((b, k), 0)}")
    return f


def drained(c):
    """Input lines that reached a sink in one stream pass: every job writes
    each line it drains once (takedown to kept or removed). Spark's progress
    row counts are not used: they count a batch once per action on it."""
    return sum(c[k] for k in SINK_ROWS)


def descendants(spans, root_id):
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids[i])
    return out


def pass_span(spans, pid):
    return next(s for s in spans if s["name"] == "pass" and s["op"] == pid)


def op_job_counts(spans, jobs, pid):
    """Per operation of a pass: (jobs, checkpoint jobs)."""
    root = pass_span(spans, pid)["id"]
    inside = descendants(spans, root)
    counts = {}
    for s in spans:
        if s["id"] in inside and s["name"] in OP_SPANS:
            ids = descendants(spans, s["id"])
            js = [j for j in jobs if j["span"] in ids]
            counts[s["op"]] = [len(js), sum(1 for j in js if is_checkpoint(j))]
    return counts


def is_checkpoint(job):
    return "checkpoint" in (job.get("call_site") or "").lower()


def same_work_failures(per_pass, previous=None):
    """Every pass, and a previous traced run when given, must run exactly the
    same jobs and checkpoint jobs per operation."""
    failures = []
    items = sorted(per_pass.items())
    if previous is not None:
        items.insert(0, ("previous run", previous))
    if not items:
        return failures
    ref_name, ref = items[0]
    for name, counts in items[1:]:
        for op in sorted(set(ref) | set(counts)):
            if ref.get(op) != counts.get(op):
                failures.append(f"same work: {op} ran [jobs, checkpoint jobs] "
                                f"{counts.get(op)} in {name} but {ref.get(op)} in {ref_name}")
    return failures


def timed_passes(record):
    """Passes that give end-to-end numbers: every timed pass of an untraced
    run, the untraced ones of a traced run."""
    return [p for p in record["passes"] if p["kind"] in ("timed", "untraced")]


def end_to_end(record, spans):
    passes = timed_passes(record)
    ids = {p["id"] for p in passes}
    if "batches" in record:
        lat = [b["durations"]["triggerExecution"] for b in record["batches"] if b["pass"] in ids]
    else:
        lat = [(s["end"] - s["start"]) / 1e6 for s in spans
               if s["name"] == "query" and s["pass"] in ids]
    p50, _ = percentile(lat, 50)
    p90, beyond = percentile(lat, 90)
    return {
        "setup_s": record["setup_end"] / 1e9,
        "pass_s": statistics.median((p["end"] - p["start"]) / 1e9 for p in passes),
        "batch_p50_ms": p50,
    }, {"passes": len(passes), "batches": len(lat), "batch_p90_ms": p90, "beyond_p90": beyond}


def layer_values(record, spans, pid):
    """Per-layer sums for one traced pass."""
    p = next(x for x in record["passes"] if x["id"] == pid)
    root = pass_span(spans, pid)
    inside = descendants(spans, root["id"])
    in_pass = [s for s in spans if s["id"] in inside]
    jobs = [j for j in record["jobs"] if j["span"] in inside]
    qes = [q for q in record["qes"] if q["span"] in inside]

    def dur(names):
        return sum(s["end"] - s["start"] for s in in_pass if s["name"] in names) / 1e9

    def total(key, scale=1.0):
        return sum(j[key] for j in jobs) * scale

    build_ids = {s["id"] for s in in_pass if s["name"] == "query.build"}
    exec_ns = 0
    for s in in_pass:
        if s["name"] in ACTION_SPANS:
            planning_ms = sum(q["analysis_ms"] + q["optimization_ms"] + q["planning_ms"]
                              for q in qes if q["span"] == s["id"])
            exec_ns += (s["end"] - s["start"]) - planning_ms * 1e6
    seconds = (p["end"] - p["start"]) / 1e9
    busy = union_length(clip([(j["start"], j["end"]) for j in jobs if j["end"] >= 0],
                             p["start"], p["end"]))
    v = {
        "query.build_s": dur(("query.build",)),
        "query.build_jobs": sum(1 for j in jobs if j["span"] in build_ids),
        "catalyst.analysis_s": sum(q["analysis_ms"] for q in qes) / 1e3,
        "catalyst.optimization_s": sum(q["optimization_ms"] for q in qes) / 1e3,
        "catalyst.planning_s": sum(q["planning_ms"] for q in qes) / 1e3,
        "exec.run_s": exec_ns / 1e9,
        "scheduler.jobs": len(jobs),
        "scheduler.stages": total("stages"),
        "scheduler.tasks": total("tasks"),
        "scheduler.tasks_failed": total("tasks_failed"),
        "checkpoint.jobs": sum(1 for j in jobs if is_checkpoint(j)),
        "driver.gap_s": seconds - busy / 1e9,
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "shuffle.write_records": total("shuffle_write_records"),
        "shuffle.read_bytes": total("shuffle_read_bytes"),
        "shuffle.records_per_job": total("shuffle_write_records") / max(1, len(jobs)),
        "scan.input_bytes": total("input_bytes"),
        "scan.input_rows": total("input_rows"),
        "executor.run_s": total("run_ns", 1e-9),
        "executor.cpu_s": total("cpu_ns", 1e-9),
        "memory.spill_bytes": total("spill_bytes"),
        "gc.task_s": total("gc_ms", 1e-3),
        "gc.driver_s": p["gc_ms"] / 1e3,
        "stream.sink_s": dur(("stream.sink",)),
    }
    batches = [b for b in record.get("batches", []) if b["pass"] == pid]
    check = next((c for c in record["checks"] if c["pass"] == pid and "lines" in c), {})
    if batches:
        d = [b["durations"] for b in batches]
        rows = drained(check) if check else 0

        def p50(f):
            return percentile([f(x) for x in d], 50)[0]

        v.update({
            "stream.batches": len(batches),
            "stream.rows_per_batch": rows / len(batches),
            "stream.rows_per_s": rows / seconds,
            "stream.plan_ms_p50": p50(lambda x: x.get("queryPlanning", 0)),
            "stream.add_batch_ms_p50": p50(lambda x: x.get("addBatch", 0)),
            "stream.commit_ms_p50": p50(lambda x: x.get("walCommit", 0) + x.get("commitOffsets", 0)),
            "stream.latest_offset_ms_p50": p50(lambda x: x.get("latestOffset", 0)),
            "stream.sink_bytes": check.get("sink_bytes", 0),
            "stream.malformed_rows": check.get("malformed_rows", 0),
            "stream.failed_batches": check.get("failed_batches", 0),
        })
    return v


STREAM_ONLY = ("stream.batches", "stream.rows_per_batch", "stream.rows_per_s",
               "stream.plan_ms_p50", "stream.add_batch_ms_p50", "stream.commit_ms_p50",
               "stream.latest_offset_ms_p50", "stream.sink_bytes", "stream.malformed_rows",
               "stream.failed_batches", "stream.rows_per_s_1thread")


def per_layer(record, spans):
    """Median over the traced passes of each per-pass sum, plus set-up
    layers, the single-thread stream baseline and tracing overhead. Stream
    layers read 0 on the batch workload, which has no stream."""
    traced = [p for p in record["passes"] if p["kind"] == "traced"]
    per_pass = [layer_values(record, spans, p["id"]) for p in traced]
    out = {k: statistics.median(v[k] for v in per_pass) for k in per_pass[0]}
    for k in STREAM_ONLY:
        out.setdefault(k, 0)

    def first(name):
        return next((s["end"] - s["start"]) / 1e9 for s in spans if s["name"] == name)

    out["session.start_s"] = first("session.start")
    out["sources.land_s"] = first("sources.land")
    out["warmup_s"] = first("warmup")
    one = next((c for c in record["checks"] if c["pass"] == "one_thread"), None)
    if one:
        out["stream.rows_per_s_1thread"] = drained(one) / (record["one_thread"]["ns"] / 1e9)
    untraced = [(p["end"] - p["start"]) for p in record["passes"] if p["kind"] == "untraced"]
    out["trace.overhead_frac"] = (statistics.median(p["end"] - p["start"] for p in traced)
                                  / statistics.median(untraced) - 1.0)
    return out


def noop_vs_count(spans):
    """Per query of each traced pass: noop action seconds beside count()
    seconds on the same DataFrame."""
    action = {(s["pass"], s["op"]): s for s in spans if s["name"] == "query.action"}
    rows = []
    for s in spans:
        if s["name"] == "query.count" and (s["pass"], s["op"]) in action:
            a = action[(s["pass"], s["op"])]
            noop, count = (a["end"] - a["start"]) / 1e9, (s["end"] - s["start"]) / 1e9
            rows.append({"pass": s["pass"], "query": s["op"], "noop_s": noop,
                         "count_s": count, "gap_s": noop - count})
    return rows
