"""Spans, counters and Spark stage readings for one benchmark run.

Every workload wraps its calls into the engine's layers in
`Tracer.span(name)`.  Spans are always recorded in memory (start, end,
parent, run id) because the end-to-end metrics are read from them.  With
tracing on, the tracer also

- tags each span's Spark jobs with `setJobGroup`, so stage counters can
  be attributed to the span that started them;
- wraps `storage.Lakehouse` writes and `serving.QueryServer.execute_sql`
  (see `instrument_lakehouse` / `instrument_server`) from outside the
  package;
- reads Spark's status store for the stages and jobs of the timed window
  (`stage_counters`, `jobs_by_span`) and writes every span to a JSON file
  when the run ends.

The time the tracer spends in its own bookkeeping is summed into
`overhead_s`.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    cpu: float = 0.0  # CPU seconds of this process tree, when the span asked for it
    steal: float = 0.0  # share of the machine's CPU time stolen meanwhile, likewise

    @property
    def duration(self) -> float:
        return self.end - self.start


# -- this process and the JVM and Python workers it started --------------------


def _descendants() -> set[int]:
    parents: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parents[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # the process ended while we listed /proc
                continue
    tree = {os.getpid()}
    grown = True
    while grown:
        grown = False
        for pid, ppid in parents.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grown = True
    return tree


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the whole machine so far."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(since: tuple[int, int]) -> float:
    now = cpu_jiffies()
    return (now[0] - since[0]) / max(1, now[1] - since[1])


def cpu_seconds() -> float:
    """User plus system CPU time of this process tree, waited-for children
    included.  Unlike wall time it does not grow when other tenants of
    the machine take the CPU away (steal)."""
    ticks = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus the driver JVM
    it launched (the `java` processes in its tree)."""
    total_kb = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if pid != os.getpid() and fh.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
        except OSError:
            continue
    return total_kb / 1024


@dataclass
class Tracer:
    spark: object
    enabled: bool
    run_id: str
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    overhead_s: float = 0.0
    _first: int = 0
    _last: int | None = None
    _stack: list[Span] = field(default_factory=list)

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{self.run_id}:{span.id}", span.name)

    @contextmanager
    def span(self, name: str, cpu: bool = False):
        """Record `name` around the body; with `cpu`, also the CPU seconds
        the process tree spent in it."""
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            self._set_group(s)
        cpu0 = cpu_seconds() if cpu else 0.0
        jiffies0 = cpu_jiffies() if cpu else (0, 0)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if cpu:
                s.cpu = cpu_seconds() - cpu0
                s.steal = steal_share(jiffies0)
            self._stack.pop()
            if self.enabled:
                self._set_group(parent)
            self.overhead_s += time.perf_counter() - s.end

    def count(self, name: str, n: float = 1) -> None:
        self.counters[name] += n

    def mark(self) -> None:
        """Start the timed window: readings below ignore earlier spans
        and counts (set-up and warm-up)."""
        self._first = len(self.spans)
        self.counters.clear()
        self.overhead_s = 0.0

    def freeze(self) -> None:
        """End the timed window: later spans (the checks) are not read."""
        self._last = len(self.spans)

    # -- derived readings ---------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans[self._first:self._last] if s.name == name]

    def ops(self, name: str) -> list[tuple[float, float, float]]:
        """(wall s, CPU s, steal share) of each `name` span in the window."""
        return [
            (s.duration, s.cpu, s.steal)
            for s in self.spans[self._first:self._last] if s.name == name
        ]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def self_times(self, within: Span) -> dict[str, float]:
        """Self time per span name over `within`'s subtree: each span's
        duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)

        def walk(s: Span) -> None:
            covered = 0.0
            for c in children[s.id]:
                covered += c.duration
                walk(c)
            out[s.name] += s.duration - covered

        walk(within)
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        doc = {
            "run_id": self.run_id,
            "spans": [
                {
                    "id": s.id,
                    "name": s.name,
                    "parent": s.parent,
                    "start": round(s.start, 6),
                    "end": round(s.end, 6),
                    "cpu_s": round(s.cpu, 3),
                    "run_id": self.run_id,
                }
                for s in self.spans
            ],
            **extra,
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)


# -- wrappers around the engine's own classes ----------------------------------

_LAKE_WRITES = ("write_partitioned", "replace_partitions", "overwrite", "merge_upsert")


def _files(root: str) -> set[tuple[str, int, int]]:
    out = set()
    for d, _dirs, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out.add((os.path.join(d, n), st.st_size, st.st_mtime_ns))
    return out


def instrument_lakehouse(tracer: Tracer, lake) -> None:
    """Wrap `lake`'s write methods: one `storage.write` span per outermost
    call, plus the parquet files and bytes it left on disk."""
    depth = [0]

    def wrap(method):
        def wrapped(*args, **kwargs):
            if depth[0]:
                return method(*args, **kwargs)
            t0 = time.perf_counter()
            before = _files(lake.root)
            tracer.overhead_s += time.perf_counter() - t0
            depth[0] += 1
            try:
                with tracer.span("storage.write"):
                    return method(*args, **kwargs)
            finally:
                depth[0] -= 1
                t0 = time.perf_counter()
                new = [f for f in _files(lake.root) - before if f[0].endswith(".parquet")]
                tracer.count("storage.write_calls")
                tracer.count("storage.files_written", len(new))
                tracer.count("storage.bytes_written", sum(f[1] for f in new))
                tracer.overhead_s += time.perf_counter() - t0

        return wrapped

    for name in _LAKE_WRITES:
        setattr(lake, name, wrap(getattr(lake, name)))


def storage_amplification(tracer: Tracer, lake) -> dict[str, float]:
    """Write and space amplification of the lake at the end of a run.
    Live bytes are the parquet files of the current tables; on-disk
    bytes are every file under the lake root (quarantine history,
    checksums, schema and observability files included)."""
    files = _files(lake.root)
    disk = sum(f[1] for f in files)
    live = sum(
        f[1]
        for f in files
        if f[0].endswith(".parquet")
        and os.path.relpath(f[0], lake.root).split(os.sep)[0] in ("silver", "gold")
    )
    return {
        "storage.write_calls": tracer.counters["storage.write_calls"],
        "storage.write_s": tracer.total("storage.write"),
        "storage.bytes_written": tracer.counters["storage.bytes_written"],
        "storage.files_written": tracer.counters["storage.files_written"],
        "storage.write_amp": tracer.counters["storage.bytes_written"] / live if live else 0.0,
        "storage.space_amp": disk / live if live else 0.0,
    }


def instrument_server(tracer: Tracer, server) -> None:
    """Wrap `server.execute_sql` in a `serving.execute_sql` span."""
    method = server.execute_sql

    def wrapped(sql):
        with tracer.span("serving.execute_sql"):
            return method(sql)

    server.execute_sql = wrapped


# -- Spark status store -------------------------------------------------------


def _stage_list(spark):
    """Every stage the status store holds, as a Scala iterator.  The
    store is populated with the UI off; only its Scala signature
    (statuses, details, withSummaries, quantiles, taskStatus) must be
    spelled out in full from py4j."""
    store = spark._jsparkSession.sparkContext().statusStore()
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    return store.stageList(
        None, False, False, no_quantiles, spark._jvm.java.util.ArrayList()
    ).iterator()


def window_start(spark) -> tuple[int, int]:
    """(highest stage id, highest job id) the status store holds now;
    the counters of a window are those of the stages and jobs after it."""
    top = -1
    it = _stage_list(spark)
    while it.hasNext():
        top = max(top, it.next().stageId())
    return top, _last_job_id(spark)


def _last_job_id(spark) -> int:
    it = spark._jsparkSession.sparkContext().statusStore().jobsList(None).iterator()
    top = -1
    while it.hasNext():
        top = max(top, it.next().jobId())
    return top


def stage_counters(
    spark, start: tuple[int, int], wall_s: float, cores: int
) -> dict[str, float]:
    """Summed counters of the stages that ran after `start`
    (skipped stages, which reuse an earlier shuffle, are not counted)."""
    after_stage, after_job = start
    run_ms = cpu_ns = gc_ms = shuffle = spill = inp = 0
    n_stages = n_tasks = 0
    it = _stage_list(spark)
    while it.hasNext():
        st = it.next()
        if st.stageId() <= after_stage or st.numCompleteTasks() == 0:
            continue
        n_stages += 1
        n_tasks += st.numCompleteTasks()
        run_ms += st.executorRunTime()
        cpu_ns += st.executorCpuTime()
        gc_ms += st.jvmGcTime()
        shuffle += st.shuffleWriteBytes()
        spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        inp += st.inputBytes()
    run_s = run_ms / 1e3
    return {
        "spark.jobs": _last_job_id(spark) - after_job,
        "spark.stages": n_stages,
        "spark.tasks": n_tasks,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.gc_s": gc_ms / 1e3,
        "spark.shuffle_write_bytes": shuffle,
        "spark.spill_bytes": spill,
        "spark.input_bytes": inp,
        "spark.busy_ratio": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
    }


def jobs_by_span(spark, start: tuple[int, int]) -> dict[str, dict[str, int]]:
    """Jobs and tasks of the window per job group, i.e. per span id."""
    out: dict[str, dict[str, int]] = {}
    it = spark._jsparkSession.sparkContext().statusStore().jobsList(None).iterator()
    while it.hasNext():
        job = it.next()
        if job.jobId() <= start[1]:
            continue
        group = job.jobGroup()
        key = group.get().split(":")[-1] if group.isDefined() else "none"
        entry = out.setdefault(key, {"jobs": 0, "tasks": 0})
        entry["jobs"] += 1
        entry["tasks"] += job.numTasks()
    return out
