#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: after `sbt "runMain graft.Verify <sfDir> <outDir>"`, run
    python3 tools/localcheck.py <sfDir> <outDir> [query ...]

Compares each <outDir>/<name> parquet result against the matching SQL in
<outDir>/oracle_sql.json executed by DuckDB over the sf tables. Exact
compare: columns sorted by name, rows sorted, values stringified. Any
diff (including dtype-level drift like tz-aware vs naive timestamps) is
reported, since the real driver's hash compare is assumed exact.
"""
import json
import sys
import glob
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify everything so float64 vs object etc. don't mask value diffs
    out = df.copy()
    for c in out.columns:
        out[c] = out[c].map(lambda v: repr(v))
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def connect(sf_dir: str):
    """A DuckDB connection with one view per sf table."""
    con = duckdb.connect()
    # Bounded footprint for the long-lived comparator connection: with the
    # default (80% of RAM) limit and 32 threads, the heavy unrolled-vector
    # oracles can spike transient allocations until a malloc fails
    # nondeterministically late in the 697-oracle sweep (r9's
    # sim_cosine_topk red was this class). A modest limit forces spilling
    # instead, and fewer threads cap the per-query arena spike.
    con.execute("SET memory_limit='4GB'")
    con.execute("SET threads=8")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = connect(sf_dir)
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    results = {}
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    for name in names:
        if only and name not in only:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            results[name] = "NO-OUTPUT"
            continue
        mine = pd.concat([pd.read_parquet(p) for p in sorted(files)],
                         ignore_index=True)
        if name not in oracles:
            results[name] = f"ROWS-ONLY ({len(mine)} rows)"
            continue
        try:
            ref = con.execute(oracles[name]).df()
        except Exception as e:
            results[name] = f"ORACLE-ERROR: {e}"
            # a failed query can leave the connection unusable (an aborted
            # transaction, an exhausted allocator): the next oracle starts
            # on a fresh one
            con.close()
            con = connect(sf_dir)
            continue
        a, b = canon(mine), canon(ref)
        if list(a.columns) != list(b.columns):
            results[name] = f"SCHEMA-MISMATCH mine={list(a.columns)} oracle={list(b.columns)}"
        elif len(a) != len(b):
            results[name] = f"ROWCOUNT-MISMATCH mine={len(a)} oracle={len(b)}"
        elif not a.equals(b):
            neq = (a != b).any(axis=1)
            idx = list(a.index[neq])[:3]
            detail = "; ".join(
                f"row{i}: mine={a.loc[i].to_dict()} oracle={b.loc[i].to_dict()}"
                for i in idx)
            results[name] = f"VALUE-MISMATCH ({int(neq.sum())} rows) {detail[:600]}"
        else:
            results[name] = f"OK ({len(a)} rows)"

    width = max(len(n) for n in results) if results else 0
    n_ok = sum(1 for v in results.values()
               if v.startswith("OK") or v.startswith("ROWS-ONLY"))
    for name, status in sorted(results.items()):
        print(f"{name:<{width}}  {status}")
    print(f"\n{n_ok}/{len(results)} OK")
    sys.exit(0 if n_ok == len(results) else 1)


if __name__ == "__main__":
    main()
