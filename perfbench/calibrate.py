#!/usr/bin/env python3
"""Record the query pools' goldens and calibration times.

    python3 perfbench/calibrate.py run      # two passes per pool, in two JVMs
    python3 perfbench/calibrate.py merge    # fold passes + oracle_check.json into pools.json

Run from the repository root. `run` executes every query of each pool once
per pass (`run.py --calibrate`), in pool order, recording its time and its
output digest under `.bench_build/perfbench/calibration/`. `merge` writes,
per query, `cal_s` (the median time of the passes) and `golden` (the
digest), and moves a query to its pool's `excluded` list, with the reason,
when a pass failed, the passes' digests differ, or the DuckDB oracle
(`perfbench/oracle_check.py`) disagrees with the result. Every kept query
records its oracle status, including an oracle that could not be run.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
POOLS = os.path.join(HERE, "pools.json")
WORKLOADS = ("queries_light", "queries_heavy")
PASSES = ("A", "B")


def out_file(w, p):
    return os.path.join(os.getcwd(), ".bench_build", "perfbench", "calibration", f"{w}-{p}.jsonl")


def run():
    for p in PASSES:
        for w in WORKLOADS:
            os.makedirs(os.path.dirname(out_file(w, p)), exist_ok=True)
            subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", "0", "--seconds", "1", "--calibrate", out_file(w, p)],
                           check=True)


def merge():
    pools = json.load(open(POOLS))
    oracle_file = os.path.join(HERE, "oracle_check.json")
    oracle = json.load(open(oracle_file)) if os.path.exists(oracle_file) else {}
    for w in WORKLOADS:
        passes = [{d["name"]: d for d in map(json.loads, open(out_file(w, p)))} for p in PASSES]
        keep, excluded = [], list(pools[w].get("excluded", []))
        for q in pools[w]["queries"]:
            n = q["name"]
            runs = [ps.get(n, {"error": "missing from pass"}) for ps in passes]
            entry = {"name": n, "board_s": q["board_s"]}
            errors = [r["error"] for r in runs if "error" in r]
            digests = {r.get("digest") for r in runs}
            status = oracle.get(n, "not checked")
            if errors:
                excluded.append(dict(entry, reason=f"failed in calibration: {errors[0]}"))
            elif len(digests) != 1:
                excluded.append(dict(entry, reason="output digest differs between passes: "
                                     + ", ".join(sorted(digests))))
            elif "MISMATCH" in status:
                excluded.append(dict(entry, reason=f"oracle check: {status}"))
            else:
                entry["cal_s"] = round(statistics.median(r["s"] for r in runs), 4)
                entry["golden"] = digests.pop()
                entry["oracle"] = status
                keep.append(entry)
        pools[w]["queries"] = keep
        pools[w]["excluded"] = excluded
        print(f"{w}: {len(keep)} queries, {len(excluded)} excluded")
    with open(POOLS, "w") as f:
        json.dump(pools, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    {"run": run, "merge": merge}[sys.argv[1]]()
