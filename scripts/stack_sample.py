#!/usr/bin/env python3
"""Sample a running JVM's threads with jstack and tally where they are.

    python3 scripts/stack_sample.py <pid> <n>

Runs `jstack <pid>` n times, 0.1 s apart, and counts thread-samples (one
thread in one snapshot) that have a graft, Spark or Hadoop frame anywhere
in their stack; the rest (idle pool threads, GC and JIT threads) are
counted as idle only:

- by thread pool: the thread name with its numbers and ids replaced by
  `*`, so `Executor task launch worker for task 3.0 in stage 7.0 (TID 12)`
  and its siblings count as one pool;
- by top frame: the first frame from the top of the stack whose class is
  in graft, Spark or Hadoop;
- in `org.apache.hadoop.util.Shell` (a launched process): the
  thread-samples with that class anywhere in their stack, per pool.

The counts name the layer a thread spends its time in, which is what a
speed-up claim needs to show; wall-clock numbers alone do not.
"""
import argparse
import re
import subprocess
import sys
import time
from collections import Counter

INTERVAL_S = 0.1
ROWS = 20
SHELL = "org.apache.hadoop.util.Shell"
OWN = ("graft.", "org.apache.spark.", "org.apache.hadoop.")
HEADER = re.compile(r'^"(.*)" ')
FRAME = re.compile(r"^\s+at ([\w$.]+)\.([\w$<>]+)\(")
UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def pool(name):
    return re.sub(r"\d+", "*", UUID.sub("*", name))


def threads(dump):
    """Yields (thread name, [class.method, ...] top first) per thread."""
    name, frames = None, []
    for line in dump.splitlines():
        m = HEADER.match(line)
        if m:
            if name is not None:
                yield name, frames
            name, frames = m.group(1), []
        elif name is not None:
            f = FRAME.match(line)
            if f:
                frames.append(f"{f.group(1)}.{f.group(2)}")
    if name is not None:
        yield name, frames


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("pid", type=int)
    ap.add_argument("n", type=int)
    a = ap.parse_args()

    by_pool, by_top, pool_top, shell = Counter(), Counter(), Counter(), Counter()
    taken = idle = 0
    for i in range(a.n):
        proc = subprocess.run(["jstack", str(a.pid)], stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True)
        if proc.returncode != 0:
            print(f"snapshot {i}: jstack exited {proc.returncode}; stopping", file=sys.stderr)
            break
        taken += 1
        for name, frames in threads(proc.stdout):
            top = next((f for f in frames if f.startswith(OWN)), None)
            if top is None:
                idle += 1
                continue
            p = pool(name)
            by_pool[p] += 1
            by_top[top] += 1
            pool_top[(p, top)] += 1
            if any(f.startswith(SHELL) for f in frames):
                shell[p] += 1
        if i + 1 < a.n:
            time.sleep(INTERVAL_S)

    print(f"snapshots: {taken} of {a.n} (pid {a.pid}); "
          f"{sum(by_pool.values())} thread-samples counted, {idle} idle")

    def table(title, counter):
        print(f"\n{title} (thread-samples):")
        for key, c in counter.most_common(ROWS):
            print(f"  {c:6d}  {key}")

    table("by thread pool", by_pool)
    table("by top graft/Spark/Hadoop frame", by_top)
    table("by pool and top frame", Counter({f"{p}  |  {t}": c for (p, t), c in pool_top.items()}))
    table(f"in {SHELL}: {sum(shell.values())}, by thread pool", shell)
    return 0 if taken else 1


if __name__ == "__main__":
    sys.exit(main())
