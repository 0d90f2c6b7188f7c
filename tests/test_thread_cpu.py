"""tools/thread_cpu.py: per-thread-class CPU of a command's process tree."""

from __future__ import annotations

import json
import subprocess
import sys

from tools import thread_cpu

TOOL = thread_cpu.__file__

# A thread and a grandchild process each burn 0.6 s of CPU and exit
# while the command is still running: both are gone from /proc before
# the command ends, so only their last readings can count them.
_CHILD = """
import subprocess, sys, threading, time

def burn(seconds):
    t0 = time.thread_time()
    while time.thread_time() - t0 < seconds:
        pass

t = threading.Thread(target=burn, args=(0.6,))
t.start()
t.join()
subprocess.run([sys.executable, "-c", "import time\\nt0 = time.thread_time()\\nwhile time.thread_time() - t0 < 0.6: pass"])
time.sleep(0.6)
sys.exit(3)
"""


def test_counts_exited_threads_and_descendants():
    proc = subprocess.run(
        [sys.executable, TOOL, "--interval", "0.05", "--", sys.executable, "-c", _CHILD],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 3, proc.stderr
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["returncode"] == 3
    assert set(report["cpu_s"]) == set(thread_cpu.CLASSES)
    # 1.2 s burned, at most one interval lost per exited thread/process
    assert report["cpu_s"]["python_driver"] >= 1.0
    assert report["cpu_s"]["c2_compiler"] == 0 and report["cpu_s"]["python_workers"] == 0
    assert report["sampled_s"] <= report["rusage_s"] + 0.1


def test_classify_by_thread_name():
    jvm = [
        ("C2 CompilerThre", "c2_compiler"),
        ("C1 CompilerThre", "c1_compiler"),
        ("GC Thread#3", "gc"),
        ("G1 Conc#0", "gc"),
        ("Executor task l", "task_workers"),
        ("Thread-12", "py4j"),
        ("Thread-12-Event", "jvm_other"),
        ("java", "jvm_other"),
    ]
    for name, cls in jvm:
        assert thread_cpu.classify(name, "java", False) == cls, name
    assert thread_cpu.classify("python3", "python3", False) == "python_driver"
    assert thread_cpu.classify("python3", "python3", True) == "python_workers"
    assert thread_cpu.classify("bash", "bash", False) == "other"
