#!/usr/bin/env python3
"""Cross-check the committed digests against the DuckDB oracles.

    python3 perfbench/oracle_check.py

For every query of every workload in run.py:
  1. `graft.Verify` (the engine's own dump main) writes the Spark result
     over the generated tables as Parquet, plus `oracle_sql.json`;
  2. DuckDB runs the query's `SparkEntry.oracleSql` on the same tables and
     the two results must agree exactly (columns by name, rows sorted,
     floats bit for bit);
  3. the harness digests each Spark dump, which must equal the digest in
     digests.json.
Needs the `duckdb` and `pandas` Python packages. Writes a summary to
.bench_build/oracle/summary.json and exits non-zero on any mismatch.
A query without an oracle, whose oracle fails in DuckDB, or whose oracle
runs past ORACLE_TIMEOUT_S, is reported as such.
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

ORACLE_TIMEOUT_S = 120


def compare(con, sql, files):
    import numpy as np
    import pandas as pd
    s = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    d = con.execute(sql).df()
    if sorted(s.columns) != sorted(d.columns):
        return f"columns spark={sorted(s.columns)} duckdb={sorted(d.columns)}"
    if len(s) != len(d):
        return f"rows spark={len(s)} duckdb={len(d)}"
    cols = sorted(s.columns)

    def norm(df):
        df = df[cols].copy()
        for c in cols:
            if df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(cols, kind="mergesort").reset_index(drop=True)

    s, d = norm(s), norm(d)
    for c in cols:
        a, b = s[c].to_numpy(), d[c].to_numpy()
        if np.issubdtype(s[c].dtype, np.floating) or np.issubdtype(d[c].dtype, np.floating):
            a, b = a.astype(float), b.astype(float)
            same = np.array_equal(a, b, equal_nan=True) and np.array_equal(
                np.signbit(a), np.signbit(b))
        else:
            same = np.array_equal(a, b)
        if not same:
            return f"values differ in column {c}"
    return None


def main():
    import duckdb

    classes = build.build(run.ROOT, run.BUILD_DIR)
    data = run.ensure_data()
    names = sorted({q for w in run.WORKLOADS.values() for q in w.get("queries", [])})
    out = os.path.join(run.BUILD_DIR, "oracle")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(names),
               SPARK_GRAFT_CPUS=str(run.cores()))
    dumps = os.path.join(out, "dumps")
    with open(os.path.join(out, "verify.log"), "w") as lf:
        subprocess.run(["java"] + run.java_opts(tmp) + ["-cp", build.classpath(classes),
                        "graft.Verify", data, dumps], cwd=run.ROOT, env=env, check=True,
                       stdout=lf, stderr=subprocess.STDOUT, timeout=1800)
    oracle = json.load(open(os.path.join(dumps, "oracle_sql.json")))

    con = duckdb.connect()
    for p in glob.glob(f"{data}/*.parquet"):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    dumped = [n for n in names if glob.glob(os.path.join(dumps, n, "*.parquet"))]
    _, res = run.launch(classes, {"mode": "digest", "data": data, "cores": run.cores(),
                                  "dumps": dumps, "queries": ",".join(dumped)}, "oracle-digest")
    committed = json.load(open(os.path.join(HERE, "digests.json")))[run.DATA_KEY]

    summary, bad = {}, 0
    for n in names:
        files = glob.glob(os.path.join(dumps, n, "*.parquet"))
        if not files:
            r = {"oracle": "no spark output"}
        elif n not in oracle:
            r = {"oracle": "no oracle sql"}
        else:
            timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
            timer.start()
            try:
                diff = compare(con, oracle[n], files)
                r = {"oracle": "match" if diff is None else f"MISMATCH: {diff}"}
            except duckdb.InterruptException:
                r = {"oracle": f"timed out after {ORACLE_TIMEOUT_S} s"}
            except duckdb.Error as e:
                r = {"oracle": f"duckdb error: {str(e).splitlines()[0]}"}
            finally:
                timer.cancel()
        got = res["digests"].get(n)
        r["digest"] = ("match" if got and got == committed.get(n) else
                       f"MISMATCH: dump {got} vs committed {committed.get(n)}")
        bad += r["oracle"].startswith(("MISMATCH", "no spark")) + r["digest"].startswith("MISMATCH")
        summary[n] = r
        print(f"{n:28s} oracle={r['oracle']:12s} digest={r['digest']}")
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
