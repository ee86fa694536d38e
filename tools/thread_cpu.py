#!/usr/bin/env python3
"""CPU time per thread group of one running process (a Spark JVM).

Usage:
    python3 tools/thread_cpu.py PID [SECONDS] [--json]

Polls /proc/PID/task/*/stat every 0.25 s for SECONDS (default: until
the process exits) and prints, per thread group, the user+system CPU
milliseconds its threads used inside that window and the group's share
of the total. Groups, matched on the thread name (the kernel keeps the
first 15 characters of it):

    compiler        JIT compiler threads (C1/C2 CompilerThread)
    gc              garbage-collector threads (GC Thread#, G1 *)
    executor task   Spark task threads (Executor task launch worker ...)
    driver main     the JVM's main thread (named after the launcher,
                    "java", like the idle primordial thread)
    stream exec     Structured Streaming's micro-batch threads
    other           every other thread (VM Thread, RPC, netty, ...)

This is the split a Spark listener cannot see: task metrics count only
the task threads, so JIT and GC work on other threads shows only here.
A thread that exits between two polls loses at most its last 0.25 s.
Reads /proc only; it sends the process nothing. With --json the last
line is the split as one JSON object.
"""
import json
import os
import re
import sys
import time

POLL_S = 0.25
TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")
GROUPS = [
    ("compiler", re.compile(r"^C\d CompilerThre|Compiler")),
    ("gc", re.compile(r"^(GC Thread|G1 |GC )")),
    ("executor task", re.compile(r"^Executor task")),
    ("driver main", re.compile(r"^(java|main)$")),
    ("stream exec", re.compile(r"^stream execut")),
]
OTHER = "other"


def group_of(name):
    for group, pattern in GROUPS:
        if pattern.search(name):
            return group
    return OTHER


def read_threads(pid):
    """-> {tid: (name, cpu ticks)} of the live threads, or None once the
    process is gone."""
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except FileNotFoundError:
        return None
    threads = {}
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the name sits in parentheses and may itself hold ") "
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        fields = stat[stat.rindex(")") + 2:].split()
        threads[tid] = (name, int(fields[11]) + int(fields[12]))  # utime + stime
    return threads


def sample(pid, seconds):
    """-> ({group: cpu ms}, wall seconds) over the window."""
    first = read_threads(pid)
    if first is None:
        sys.exit(f"no process {pid}")
    start = {tid: ticks for tid, (_, ticks) in first.items()}
    last = dict(first)
    t0 = time.monotonic()
    while seconds is None or time.monotonic() - t0 < seconds:
        time.sleep(POLL_S)
        now = read_threads(pid)
        if now is None:
            break
        last.update(now)
    wall = time.monotonic() - t0
    ms = {g: 0.0 for g, _ in GROUPS}
    ms[OTHER] = 0.0
    for tid, (name, ticks) in last.items():
        # a thread born inside the window counts from zero
        ms[group_of(name)] += (ticks - start.get(tid, 0)) * TICK_MS
    return ms, wall


def main():
    args = [a for a in sys.argv[1:] if a != "--json"]
    if not args or len(args) > 2:
        sys.exit(__doc__)
    pid = int(args[0])
    seconds = float(args[1]) if len(args) > 1 else None
    ms, wall = sample(pid, seconds)
    total = sum(ms.values())
    print(f"pid {pid}, {wall:.1f} s window, {total:.0f} ms CPU")
    for group, v in ms.items():
        share = 100.0 * v / total if total else 0.0
        print(f"{group:<14} {v:10.0f} ms  {share:5.1f} %")
    if "--json" in sys.argv[1:]:
        print(json.dumps({"pid": pid, "wall_s": round(wall, 1),
                          "cpu_ms": {g: round(v) for g, v in ms.items()}}))


if __name__ == "__main__":
    main()
