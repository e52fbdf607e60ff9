#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Runs each oracle_sql.json query in DuckDB over the sf parquet tables and
compares against the Verify-dumped parquet results: schema (sorted column
names), row count, and a hash of the value matrix with columns sorted by
name and rows sorted. Usage:

    sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
    python3 tools/check.py /root/testdata/sf0.01 /tmp/verify_out [out.json]
    python3 tools/test_check.py      # tests of the hash canonicalisation

The optional third argument writes a driver-style CORRECTNESS json
(per-query rows/schema/hash match) — used to publish sweeps at tiers the
round driver does not run itself (e.g. the ScaleUp-generated sf1).
Source tables may be plain files or Spark-written parquet directories.
"""
import sys, os, json, hashlib
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes to strings with fixed float repr. Outside float
    # columns one missing cell reads None from the Spark parquet but NaN
    # from DuckDB (a nullable BOOLEAN), so there every missing cell is one
    # null token; float columns keep their 'nan'.
    floats = [pd.api.types.is_float_dtype(t) for t in df.dtypes]
    def cell(v, is_float):
        if not is_float and pd.api.types.is_scalar(v) and pd.isna(v):
            return repr(None)
        if isinstance(v, float):
            return repr(round(v, 9))
        return repr(v)
    rows = sorted(tuple(cell(v, f) for v, f in zip(row, floats))
                  for row in df.itertuples(index=False, name=None))
    return hashlib.md5(repr(rows).encode()).hexdigest()

def main(sf_dir, out_dir, json_out=None):
    con = duckdb.connect()
    # cap DuckDB parallelism when sharing the host with a Spark sweep
    if os.environ.get("CHECK_THREADS"):
        con.sql(f"SET threads={int(os.environ['CHECK_THREADS'])}")
    # bound DuckDB memory and let big oracles (e.g. the sf10 Kneser–Ney
    # bigram join) spill instead of drawing the kernel OOM-killer
    mem = os.environ.get("CHECK_MEM", "24GB")
    con.sql(f"SET memory_limit='{mem}'")
    # per-process spill dir: concurrent checks sharing one directory can
    # collide on DuckDB's fixed temp-file names
    con.sql(f"SET temp_directory='/tmp/duckdb_spill_{os.getpid()}'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            # Spark writes a directory of part files; DuckDB needs the glob
            srcp = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{srcp}'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    results = {}
    # CHECK_RESUME=1: reuse verdicts from an interrupted run's .partial file
    if json_out and os.environ.get("CHECK_RESUME") == "1" \
            and os.path.exists(json_out + ".partial"):
        results = json.load(open(json_out + ".partial"))
        n_pass = sum(1 for v in results.values() if v.get("hash_match"))
        n_fail = sum(1 for v in results.values()
                     if v.get("err") or v.get("hash_match") is False)
        print(f"resuming: {len(results)} cached verdicts")
    # any registered query whose Verify dump is missing (query threw) is a
    # FAIL, not a silent skip — rows-only queries included (queries.txt is
    # the full registry manifest; fall back to oracle keys if absent)
    dumped = {d for d in os.listdir(out_dir)
              if os.path.isdir(os.path.join(out_dir, d))}
    manifest_path = os.path.join(out_dir, "queries.txt")
    if os.path.exists(manifest_path):
        expected = {l.strip() for l in open(manifest_path) if l.strip()}
    else:
        expected = set(oracle)
    for name in sorted(expected - dumped):
        if name in results:
            continue
        print(f"  [FAIL] {name}: no Verify output (query failed?)")
        results[name] = {"rows_match": False, "schema_match": False,
                         "hash_match": False, "spark_rows": None,
                         "oracle_rows": None, "err": "no_verify_output"}
        n_fail += 1
    def flush():
        # incremental dump so a killed run keeps its finished verdicts
        if json_out:
            with open(json_out + ".partial", "w") as fh:
                json.dump(results, fh, indent=2, sort_keys=True)

    # CHECK_SKIP=a,b defers named queries (e.g. the two bigram-LM oracles,
    # whose sf10 DuckDB joins run ~an hour each) so the fast tail isn't
    # blocked behind them; run again without the env to fill them in.
    skip = set(filter(None, os.environ.get("CHECK_SKIP", "").split(",")))
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        if name in results or name in skip:
            continue
        got = pq.read_table(d).to_pandas()
        if name not in oracle:
            # a rows-only query regressing to an empty result must not pass
            # silently — mirror the driver's rows>0 smoke contract
            if len(got) == 0:
                print(f"  [FAIL] {name}: rows-only dump has 0 rows")
                results[name] = {"rows_match": False, "schema_match": None,
                                 "hash_match": None, "spark_rows": 0,
                                 "oracle_rows": None, "err": "rows_only_empty"}
                n_fail += 1
            else:
                print(f"  [rows-only] {name}: rows={len(got)}")
                results[name] = {"rows_match": None, "schema_match": None,
                                 "hash_match": None, "spark_rows": len(got),
                                 "oracle_rows": None, "err": "no_oracle"}
            flush()
            continue
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"  [FAIL] {name}: oracle error: {e}")
            results[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": len(got),
                             "oracle_rows": None,
                             "err": f"oracle_error: {e}"}
            n_fail += 1
            flush()
            continue
        ok_schema = sorted(got.columns) == sorted(exp.columns)
        ok_rows = len(got) == len(exp)
        ok_hash = ok_schema and ok_rows and canon(got) == canon(exp)
        results[name] = {"rows_match": ok_rows, "schema_match": ok_schema,
                         "hash_match": ok_hash, "spark_rows": len(got),
                         "oracle_rows": len(exp), "err": None}
        if ok_hash:
            print(f"  [ok] {name}: rows={len(got)}")
            n_pass += 1
        else:
            n_fail += 1
            print(f"  [FAIL] {name}: schema={ok_schema} rows={len(got)}/{len(exp)} hash={ok_hash}")
            if not ok_schema:
                print(f"     got cols: {sorted(got.columns)}")
                print(f"     exp cols: {sorted(exp.columns)}")
            elif ok_rows:
                g = got.reindex(sorted(got.columns), axis=1)
                e = exp.reindex(sorted(exp.columns), axis=1)
                gs = g.sort_values(by=list(g.columns)).reset_index(drop=True)
                es = e.sort_values(by=list(e.columns)).reset_index(drop=True)
                diff = (gs.astype(str) != es.astype(str)).any(axis=1)
                idx = diff[diff].index[:3]
                for i in idx:
                    print(f"     row {i} got: {gs.iloc[i].to_dict()}")
                    print(f"     row {i} exp: {es.iloc[i].to_dict()}")
        flush()
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(results, fh, indent=2, sort_keys=True)
        print(f"wrote {json_out}")
    print(f"PASS {n_pass} FAIL {n_fail}")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
