#!/usr/bin/env python3
"""Confirm the pools' goldens against the DuckDB oracles, once.

    python3 perfbench/oracle_check.py

Run from the repository root after one `perfbench/run.py` run (which builds
the classpath and the input tables under `.bench_build/perfbench/`). It
runs `graft.Verify` for every pool query on the benchmark's tables, which
dumps each result as parquet, then compares each dump with its
`SparkEntry.oracleSql` oracle executed by DuckDB over the same tables, as
`tools/localcheck.py` does: columns sorted by name, rows sorted, values
stringified, exact compare. An oracle that runs longer than
`ORACLE_TIMEOUT_S` seconds is interrupted and reported as such. Writes the status of every
pool query to `perfbench/oracle_check.json`; `perfbench/calibrate.py`
folds it into `pools.json`.
"""
import glob
import importlib.util
import json
import os
import subprocess
import threading
import time

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_PY = os.path.join(HERE, "run.py")
ORACLE_TIMEOUT_S = 120
VERIFY_PAR = 2  # queries graft.Verify runs at once


def load_run():
    spec = importlib.util.spec_from_file_location("perfbench_run", RUN_PY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        df[c] = df[c].map(repr)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(con, sql, out_dir, name):
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        return "NO-OUTPUT"
    mine = pd.concat([pd.read_parquet(p) for p in files], ignore_index=True)
    if sql is None:
        return f"NO-ORACLE ({len(mine)} rows)"
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        ref = con.execute(sql).df()
    except Exception as e:
        return f"ORACLE-ERROR: {str(e).splitlines()[0][:200]}"
    finally:
        timer.cancel()
    a, b = canon(mine), canon(ref)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA-MISMATCH mine={list(a.columns)} oracle={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWCOUNT-MISMATCH mine={len(a)} oracle={len(b)}"
    if not a.equals(b):
        neq = (a != b).any(axis=1)
        return f"VALUE-MISMATCH ({int(neq.sum())} rows)"
    return f"OK ({len(a)} rows)"


def main():
    run = load_run()
    root = os.getcwd()
    cache = os.path.join(root, ".bench_build", "perfbench")
    cp = run.build(root, cache)
    data = run.data(cache)
    pools = json.load(open(os.path.join(HERE, "pools.json")))
    names = sorted({q["name"] for w in ("queries_light", "queries_heavy")
                    for q in pools[w]["queries"] + pools[w].get("excluded", [])})
    out = os.path.join(cache, "oracle")
    argfile = os.path.join(cache, "verify.args")
    with open(argfile, "w") as f:
        f.write("-cp\n" + cp + "\n")
    tmp = os.path.join(cache, "oracle-tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.time()
    env = dict(os.environ, SPARK_GRAFT_VERIFY_PAR=str(VERIFY_PAR), SPARK_GRAFT_CPUS=str(run.cores()))
    subprocess.run(["java", "-Xmx6g", f"-Djava.io.tmpdir={tmp}",
                    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
                   + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                   + [f"@{argfile}", "graft.Verify", data, out] + names,
                   cwd=tmp, env=env, check=True)
    print(f"dumped {len(names)} results in {time.time() - t0:.0f} s", flush=True)
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET memory_limit='4GB'")
    con.execute("SET threads=4")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    status = {}
    for n in names:
        t1 = time.time()
        status[n] = compare(con, oracles.get(n), out, n)
        if status[n].startswith("ORACLE-ERROR") and "INTERRUPT" in status[n].upper():
            status[n] = f"ORACLE-TIMEOUT (> {ORACLE_TIMEOUT_S} s)"
        print(f"{n:<36} {status[n]}  [{time.time() - t1:.1f} s]", flush=True)
    with open(os.path.join(HERE, "oracle_check.json"), "w") as f:
        json.dump(dict(sorted(status.items())), f, indent=1)
        f.write("\n")
    subprocess.run(["rm", "-rf", out, tmp])


if __name__ == "__main__":
    main()
