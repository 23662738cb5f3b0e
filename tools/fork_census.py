#!/usr/bin/env python3
"""Count the operating-system processes a JVM started, from a JFR recording.

Usage:
    python3 tools/fork_census.py <file.jfr>

Record with `-XX:StartFlightRecording=filename=<file.jfr>` on the java
command line (the `jdk.ProcessStart` event is on in the default settings).
Reads every `jdk.ProcessStart` event through `jfr print --json` and prints
its count grouped by command head and by starting thread, largest first,
then the total. The command head is the program's base name plus its
leading arguments up to the first one naming a path, so `chmod 0755 /a/b`
and `chmod 0755 /c` count as one `chmod 0755`. Runs of digits in thread
names read as `N`, so numbered pool threads group together.
"""
import collections
import json
import os
import re
import subprocess
import sys


def head(command):
    words = command.split()
    if not words:
        return "(empty)"
    out = [os.path.basename(words[0])]
    for w in words[1:3]:
        if "/" in w:
            break
        out.append(w)
    return " ".join(out)


def thread(event):
    t = event["values"].get("eventThread") or {}
    name = t.get("javaName") or t.get("osName") or "?"
    return re.sub(r"\d+", "N", name)


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    p = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ProcessStart",
                        sys.argv[1]], stdout=subprocess.PIPE, check=True, text=True)
    events = json.loads(p.stdout)["recording"]["events"]
    counts = collections.Counter(
        (head(e["values"].get("command") or ""), thread(e)) for e in events)
    width = max([len(h) for h, _ in counts] + [len("command head")])
    print(f"{'count':>6}  {'command head':<{width}}  thread")
    for (h, t), n in counts.most_common():
        print(f"{n:>6}  {h:<{width}}  {t}")
    print(f"{len(events):>6}  total")


if __name__ == "__main__":
    main()
