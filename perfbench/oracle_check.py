#!/usr/bin/env python3
"""Ties the committed result hashes to the DuckDB oracle. Run from the
repository root whenever the fitted queries' results are meant to change:

    python3 perfbench/oracle_check.py

It dumps the workload's queries at the vendored tier with the program's own
`graft.Verify` main (local[4], as in the benchmark), checks the dump against
DuckDB with `tools/check.py`, renders the same dump into the benchmark's
canonical rows, and writes `expected_hashes.json` together with the check's
verdict line. It fails without writing if any query fails the oracle.
"""
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

FIT_QUERIES = ["q_kmeans_centroids", "q_dedup_components", "q_textrank"]


def java(main, *args):
    tmp = os.path.join(build.OUT, "oracle-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    env.pop("SPARK_LOCAL_DIRS", None)
    subprocess.run(cmd + ["-cp", build.classpath(), main, *args], check=True, env=env,
                   stdout=subprocess.DEVNULL)


def main():
    build.build()
    dump = os.path.join(build.OUT, "oracle")
    shutil.rmtree(dump, ignore_errors=True)
    java("graft.Verify", run.DATA, dump, *FIT_QUERIES)
    check = subprocess.run([sys.executable, os.path.join(build.ROOT, "tools", "check.py"),
                            run.DATA, dump], capture_output=True, text=True)
    print(check.stdout)
    verdict = check.stdout.strip().splitlines()[-1]
    if check.returncode != 0 or verdict != f"PASS {len(FIT_QUERIES)} FAIL 0":
        raise SystemExit(f"oracle check failed: {verdict}")
    rows_file = os.path.join(dump, "canonical_rows.json")
    java("perfbench.OracleRows", dump, rows_file, *FIT_QUERIES)
    with open(rows_file) as fh:
        rows = json.load(fh)
    out = {
        "tier": "perfbench/data/sf0.01 (copy of the seed-42 sf0.01 tier)",
        "oracle_check": f"tools/check.py on a graft.Verify dump at local[4]: {verdict}",
        "hashes": {q: metrics.canonical_hash(rows[q]) for q in FIT_QUERIES},
    }
    with open(run.EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
