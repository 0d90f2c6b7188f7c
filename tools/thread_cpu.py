#!/usr/bin/env python
"""CPU seconds of a command's process tree, split by thread class.

    python tools/thread_cpu.py [--interval S] -- COMMAND [ARG ...]

Runs COMMAND and, every `--interval` seconds (default 0.25), reads
`/proc/<pid>/task/<tid>/stat` of COMMAND and each of its descendants.
Each thread's last reading is kept, so a thread or process that exits
between samples still counts with what it had used at the previous
sample (at most one interval of its CPU is lost).  When COMMAND exits,
its own stdout/stderr having passed through, the last stdout line is
one JSON object:

    {"command": [...], "returncode": N, "wall_s": ..., "samples": N,
     "cpu_s": {class: seconds, ...}, "sampled_s": ..., "rusage_s": ...}

The classes, by thread name (the kernel keeps its first 15 bytes):

- c2_compiler / c1_compiler: HotSpot's JIT compiler threads;
- gc: the GC worker, marking and refinement threads (`GC Thread#N`,
  `G1 ...`);
- task_workers: Spark's `Executor task launch worker` threads;
- py4j: the JVM's unnamed `Thread-N` threads; in a PySpark driver
  these are the py4j gateway's connection threads, which run the
  Python driver's calls (plan analysis and optimization among them);
- jvm_other: every other JVM thread (its main thread included);
- python_driver: the threads of Python processes outside any JVM;
- python_workers: Python processes started by a JVM (PySpark's
  daemon and its UDF workers);
- other: any other process in the tree.

`rusage_s` is COMMAND's own user + system time as `wait4` reports it,
which covers every descendant that was waited for; `sampled_s` is the
sum of the classes, so the two differ by what exited within an
interval of its last sample and by descendants nobody waited for.
Only `/proc` is read; the tool writes nothing but its output.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import signal
import subprocess
import sys
import time

CLASSES = (
    "c2_compiler",
    "c1_compiler",
    "gc",
    "task_workers",
    "py4j",
    "jvm_other",
    "python_driver",
    "python_workers",
    "other",
)
_TICK = os.sysconf("SC_CLK_TCK")
_PY4J = re.compile(r"Thread-\d+")


def classify(thread_name: str, process_name: str, under_jvm: bool) -> str:
    """The class of one thread, from its name, its process's name and
    whether a JVM is among the process's ancestors."""
    if process_name == "java":
        if thread_name.startswith("C2 CompilerThre"):
            return "c2_compiler"
        if thread_name.startswith("C1 CompilerThre"):
            return "c1_compiler"
        if thread_name.startswith(("GC Thread", "G1 ")):
            return "gc"
        if thread_name.startswith("Executor task l"):
            return "task_workers"
        if _PY4J.fullmatch(thread_name):
            return "py4j"
        return "jvm_other"
    if process_name.startswith("python"):
        return "python_workers" if under_jvm else "python_driver"
    return "other"


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # the thread or process has exited
        return None


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tids:
        text = _read(f"/proc/{pid}/task/{tid}/children")
        if text:
            kids.extend(int(k) for k in text.split())
    return kids


def _stat(path: str) -> tuple[str, int, int] | None:
    """(name, start time, user + system ticks) of one /proc stat file."""
    text = _read(path)
    if text is None:
        return None
    name = text[text.index("(") + 1 : text.rindex(")")]
    fields = text[text.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): utime, stime are 14, 15; starttime 22
    return name, int(fields[19]), int(fields[11]) + int(fields[12])


def sample(root: int, last: dict) -> None:
    """Update `last` — {(pid, tid, start): (class, ticks)} — with one
    reading of every thread in the tree under `root`."""
    stack = [(root, False)]
    while stack:
        pid, under_jvm = stack.pop()
        proc = _stat(f"/proc/{pid}/stat")
        if proc is None:
            continue
        pname = proc[0]
        jvm = under_jvm or pname == "java"
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st is not None:
                tname, start, ticks = st
                last[(pid, int(tid), start)] = (classify(tname, pname, under_jvm), ticks)
        stack.extend((kid, jvm) for kid in _children(pid))


def split(last: dict) -> dict[str, float]:
    out = dict.fromkeys(CLASSES, 0)
    for cls, ticks in last.values():
        out[cls] += ticks
    return {cls: round(t / _TICK, 2) for cls, t in out.items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--interval", type=float, default=0.25)
    p.add_argument("command", nargs=argparse.REMAINDER)
    args = p.parse_args(argv)
    cmd = args.command[1:] if args.command[:1] == ["--"] else args.command
    if not cmd:
        p.error("no command given (usage: thread_cpu.py -- COMMAND ...)")

    t0 = time.perf_counter()
    child = subprocess.Popen(cmd)
    signal.signal(signal.SIGTERM, lambda *_: child.terminate())
    signal.signal(signal.SIGINT, signal.SIG_IGN)  # the child gets its own
    last: dict = {}
    samples = 0
    while True:
        sample(child.pid, last)
        samples += 1
        pid, status, usage = os.wait4(child.pid, os.WNOHANG)
        if pid:
            break
        time.sleep(args.interval)
    child.returncode = os.waitstatus_to_exitcode(status)
    cpu = split(last)
    sys.stdout.flush()
    print(
        json.dumps(
            {
                "command": cmd,
                "returncode": child.returncode,
                "wall_s": round(time.perf_counter() - t0, 2),
                "interval_s": args.interval,
                "samples": samples,
                "cpu_s": cpu,
                "sampled_s": round(sum(cpu.values()), 2),
                "rusage_s": round(usage.ru_utime + usage.ru_stime, 2),
            }
        )
    )
    return child.returncode


if __name__ == "__main__":
    sys.exit(main())
