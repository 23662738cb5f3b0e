#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload queries_light|queries_heavy|elt_refresh \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. On first use it builds
the program and the harness (`perfbench/harness`, an sbt build that depends
on the program build at the root) and generates the input tables; both are
cached under `.bench_build/perfbench/` and rebuilt when a source changes.
It then runs the workload in one JVM (`local[<cores>]`), relays the
harness's report to stderr, and prints the result object as the last line
of stdout. Exits non-zero without a result if anything fails.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("queries_light", "queries_heavy", "elt_refresh")
DATA_SEED = 42
RUN_TIMEOUT_S = 170
HEAP = "8g"  # the program build's default -Xmx for forked runs

# JDK 17 module opens Spark needs outside spark-submit (same list as the
# program build's forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
              os.path.join(HERE, "harness", "build.sbt")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "harness", "src")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, cache):
    stamp_file = os.path.join(cache, "classpath.stamp")
    cp_file = os.path.join(cache, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building program and harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = "-Dsbt.offline=true -Xmx3g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or opts) + " -Dsbt.server.autostart=false"
    t0 = time.time()
    with open(os.path.join(cache, "build.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
            stderr=logf, text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (see {cache}/build.log)")
    cp = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")][-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def data(cache):
    d = os.path.join(cache, "data", f"sf0.1-seed{DATA_SEED}")
    done = os.path.join(d, "_DONE")
    if not os.path.exists(done):
        log(f"generating input tables into {d}")
        sys.path.insert(0, HERE)
        import gen_data
        gen_data.generate(d, DATA_SEED)
        open(done, "w").close()
    return d


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--calibrate", help=argparse.SUPPRESS)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        raise SystemExit("run.py: not at the root of a repository checkout "
                         "(build.sbt and src/main/scala/graft are missing)")
    cache = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(cache, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)

    cp = build(root, cache)
    data_dir = data(cache)
    argfile = os.path.join(cache, "java.args")
    with open(argfile, "w") as f:
        f.write("-cp\n" + cp + "\n")
    trace_dir = os.path.join(cache, "trace")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"@{argfile}", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", data_dir, "--work", work,
              "--trace-dir", trace_dir,
              "--pools", os.path.join(HERE, "pools.json"), "--cores", str(cores()),
              "--launch-ms", str(int(time.time() * 1000))])
    if a.calibrate:
        cmd += ["--calibrate", os.path.abspath(a.calibrate)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S if not a.calibrate else None)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"run.py: workload exceeded {RUN_TIMEOUT_S} s")
    finally:
        subprocess.run(["rm", "-rf", work])
    if proc.returncode != 0:
        raise SystemExit(f"run.py: harness exited with {proc.returncode}")
    if a.calibrate:
        return
    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = json.loads(lines[-1]) if lines else None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("run.py: harness printed no result object")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
