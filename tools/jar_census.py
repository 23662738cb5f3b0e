#!/usr/bin/env python3
"""Which jars of the Spark distribution a JVM loaded classes from.

Usage:
    python3 tools/jar_census.py [--jars DIR] [--list FILE] [--classes] LOG...
    python3 tools/jar_census.py [--jars DIR] --all

Record each LOG with `-Xlog:class+load=info:file=<log>` on the java command
line (`%p` in the file name gives each JVM its own log). For every jar in
DIR (default /opt/spark/jars) prints the number of distinct classes the
logs loaded from it, the bytes and entries of its zip central directory
(what an open `java.util.zip.ZipFile` keeps on the heap), and its name
without the version, the key `project/spark-jars.txt` lists. With `--list`
each row also says whether the allow-list keeps the jar, and the jars
that served a class but are not listed are named at the end. `--classes`
prints the loaded class names under each jar. `--all` prints every jar's
key, one per line: an allow-list that keeps the whole distribution.

Regenerating the allow-list after a Spark image change:
  1. Record logs over tier-1 (`set Test / javaOptions += "-Xlog:..."`
     before `testOnly *`), `runMain graft.Verify` on the sf0.01 data
     (`set run / javaOptions += ...`), and one run of each perfbench
     workload (`JAVA_TOOL_OPTIONS=-Xlog:...`), all on the full classpath:
     in a scratch copy whose project/spark-jars.txt is the `--all` output.
  2. Run this script over all the logs. Every jar with a loaded class goes
     into the census part of the list, by its key.
  3. Keep the second part of the list by hand: jars the logs cannot show
     because the JVM reads only resources from them (native libraries for
     linux-x86_64, `META-INF/services` registrations graft relies on).
     Re-check each against the new image.
  4. Run `ClasspathSpec`: it fails on a listed name that matches no jar.
"""
import argparse
import collections
import os
import re
import struct

# the jar's name without its version: `netty-transport-native-epoll-4.2.7.Final-
# linux-x86_64.jar` -> `netty-transport-native-epoll-linux-x86_64`; build.sbt
# and tools/run_graft.sh apply the same pattern
JAR = re.compile(r"^(.+)-(\d+\.[\w.]*(?:-\d+)?)(?:-([A-Za-z].*))?\.jar$")
LOAD = re.compile(r"\[class,load\] (\S+) source: (?:jar:)?(?:file:)?(\S+?\.jar)(?:!/)?$")


def key(jar_name):
    m = JAR.match(jar_name)
    if not m:
        return jar_name[:-len(".jar")]
    return m.group(1) + (f"-{m.group(3)}" if m.group(3) else "")


def central_directory(path):
    """(bytes, entries) of a zip file's central directory, from its end record."""
    with open(path, "rb") as f:
        f.seek(0, os.SEEK_END)
        size = f.tell()
        f.seek(max(0, size - 65557))
        tail = f.read()
    end = tail.rfind(b"PK\x05\x06")
    if end < 0:
        raise ValueError(f"{path}: no end of central directory record")
    entries, cen = struct.unpack("<HI", tail[end + 10:end + 16])
    if entries == 0xFFFF or cen == 0xFFFFFFFF:
        loc = tail.rfind(b"PK\x06\x07", 0, end)
        with open(path, "rb") as f:
            f.seek(struct.unpack("<Q", tail[loc + 8:loc + 16])[0])
            rec = f.read(56)
        entries, cen = struct.unpack("<QQ", rec[32:48])
    return cen, entries


def read_list(path):
    with open(path) as f:
        return {ln.split("#")[0].strip() for ln in f} - {""}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--jars", default="/opt/spark/jars")
    ap.add_argument("--list", help="allow-list to compare with")
    ap.add_argument("--classes", action="store_true")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("logs", nargs="*")
    a = ap.parse_args()

    jars = sorted(f for f in os.listdir(a.jars) if f.endswith(".jar"))
    if a.all:
        print("\n".join(sorted(key(j) for j in jars)))
        return
    if not a.logs:
        ap.error("no class-load logs given")
    # by file name: sbt's forked `run` loads from copies under target/bg-jobs
    loaded = collections.defaultdict(set)
    for log in a.logs:
        with open(log, errors="replace") as f:
            for ln in f:
                m = LOAD.search(ln.rstrip("\n"))
                if m and os.path.basename(m.group(2)) in jars:
                    loaded[os.path.basename(m.group(2))].add(m.group(1))
    kept = read_list(a.list) if a.list else None

    rows = [(j, len(loaded[j]), *central_directory(os.path.join(a.jars, j)))
            for j in jars]
    rows.sort(key=lambda r: (-r[1], -r[2], r[0]))
    width = max(len(key(j)) for j in jars)
    print(f"{'classes':>7} {'cen_bytes':>10} {'entries':>7}  {'key':<{width}}"
          + ("  list" if kept is not None else ""))
    for j, n, cen, entries in rows:
        mark = ("" if kept is None else "  kept" if key(j) in kept else "  DROPPED")
        print(f"{n:>7} {cen:>10} {entries:>7}  {key(j):<{width}}{mark}")
        if a.classes:
            for c in sorted(loaded[j]):
                print(f"{'':>28}{c}")

    def total(sel):
        sel = list(sel)
        return (f"{len(sel)} jars, {sum(r[2] for r in sel) / 1e6:.1f} MB central "
                f"directory, {sum(r[3] for r in sel)} entries")
    print(f"loaded from:     {total(r for r in rows if r[1])}")
    print(f"nothing loaded:  {total(r for r in rows if not r[1])}")
    if kept is None:
        return
    print(f"kept by list:    {total(r for r in rows if key(r[0]) in kept)}")
    print(f"dropped by list: {total(r for r in rows if key(r[0]) not in kept)}")
    for k in sorted(kept - {key(j) for j in jars}):
        print(f"listed, no such jar: {k}")
    for j, n, _, _ in rows:
        if n and key(j) not in kept:
            print(f"loaded, not listed: {key(j)}")


if __name__ == "__main__":
    main()
