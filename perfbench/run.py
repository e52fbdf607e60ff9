#!/usr/bin/env python3
"""The repository's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload stream_trend_drain --seed 1 --seconds 10 --trace 0

It builds the program from source if needed (`build.py`), runs one workload
in one JVM (`src/Main.scala`), checks every output, and prints as its last
line one JSON object: `correct`, `attempted`, `failed` and `metrics` — the
end-to-end metrics of BENCHMARK.json with `--trace 0`, the per-layer ones
with `--trace 1`. A traced run also writes its trace artifacts (spans,
self time, noop-vs-count table, job counts) under `.bench_build/perfbench/trace/`.
See README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("stream_trend_drain", "batch_iterative_fits")
# Set-up allowance of the JVM's time limit, by --trace: a traced run adds
# passes, a reconciliation per pass and a local[1] drain (README.md has the
# wall times). The limit grows by two passes' worth with --seconds.
SETUP_ALLOWANCE_S = {0: 110, 1: 150}
# Fixed heap, equal floor and ceiling, well inside a 15 GiB machine. Default
# tiered JIT, with the compiler threads capped at 2 (one C1, one C2) so that
# they compete less with the 4 task threads.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:CICompilerCount=2", "-XX:-UsePerfData"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
DATA = os.path.join(build.BENCH, "data", "sf0.01")
EXPECTED = os.path.join(build.BENCH, "expected_hashes.json")


def run_jvm(workload, seed, seconds, trace, run_dir):
    work, out = os.path.join(run_dir, "work"), os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main", workload, str(seed),
            str(seconds), str(trace), work, out, DATA]
    # Spark prefers these variables over spark.local.dir; scratch must stay
    # inside the checkout.
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                              timeout=SETUP_ALLOWANCE_S[trace] + 2 * seconds)
    if proc.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
    with open(os.path.join(out, "record.json")) as fh:
        record = json.load(fh)
    with open(os.path.join(out, "spans.jsonl")) as fh:
        spans = [json.loads(line) for line in fh]
    return record, spans


def verdicts(workload, record, spans, trace_dir, digest):
    """Failures of every check: reconciliation or result hashes, program
    errors, and (traced) the same-work comparison, which also holds against
    the first traced run of the same sources in this checkout."""
    failures = [f"{e['pass']}/{e['op']}: {e['error']}" for e in record["errors"]]
    if workload == "stream_trend_drain":
        for c in record["checks"]:
            failures += metrics.reconcile_stream(c)
    else:
        with open(EXPECTED) as fh:
            failures += metrics.hash_failures(record["checks"], json.load(fh)["hashes"])
    if trace_dir:
        compared = [p["id"] for p in record["passes"] if p["traced"]]
        per_pass = {pid: metrics.op_job_counts(spans, record["jobs"], pid) for pid in compared}
        stored = os.path.join(os.path.dirname(trace_dir),
                              f"jobcounts-{workload}-{digest[:12]}.json")
        previous = None
        if os.path.exists(stored):
            with open(stored) as fh:
                previous = json.load(fh)
        same = metrics.same_work_failures(per_pass, previous)
        failures += same
        if previous is None and not same:
            with open(stored, "w") as fh:
                json.dump(per_pass[compared[0]], fh, indent=1, sort_keys=True)
        write_json(os.path.join(trace_dir, "jobcounts.json"), per_pass)
    return failures


def write_json(path, obj):
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    digest = build.build()
    run_dir = os.path.join(build.OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        record, spans = run_jvm(args.workload, args.seed, args.seconds, args.trace, run_dir)
    finally:
        shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)

    trace_dir = None
    if args.trace:
        trace_dir = os.path.join(build.OUT, "trace", f"{args.workload}-seed{args.seed}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
        shutil.copy(os.path.join(run_dir, "out", "spans.jsonl"), trace_dir)
        # jobs are recorded in traced passes only
        untraced = {p["id"] for p in record["passes"] if not p["traced"]}
        write_json(os.path.join(trace_dir, "selftime.json"),
                   metrics.self_times([s for s in spans if s["pass"] not in untraced],
                                      record["jobs"]))
        write_json(os.path.join(trace_dir, "noop_vs_count.json"), metrics.noop_vs_count(spans))
    failures = verdicts(args.workload, record, spans, trace_dir, digest)

    values, samples = metrics.end_to_end(record, spans)
    group = "end_to_end"
    if args.trace:
        values, group = metrics.per_layer(record, spans), "per_layer"
    result = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[group]}

    for f in failures:
        print(f"FAILED {f}")
    print(f"samples: {json.dumps(samples)}")
    print(json.dumps({"correct": not failures, "attempted": record["attempted"],
                      "failed": len(failures), "metrics": result}))


if __name__ == "__main__":
    main()
