"""Spans, Spark attribution and CPU clocks for the benchmark.

The tracer lives entirely in the benchmark: it patches the program's
public functions at run time and never edits the program. A span records
name, start, end, parent, workload and cycle, and is kept in memory until
``write``. The tracer times its own bookkeeping inside the traced
cycles (``own_s``): the span records, the job-group calls over py4j and
the file listings around writes. Spark work is attributed to the
innermost open span through the job group: every span sets
``spark.jobGroup.id`` on entry and restores its parent's group on exit,
and ``harvest`` reads the JVM status store (``statusStore().jobsList`` /
``stageData``) for the jobs that ran since the last harvest. Harvest at every cycle end: the store keeps only the last
1,000 jobs, fewer than one feed run launches.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

from perfbench.gen import data_files

JOB_GROUP = "spark.jobGroup.id"
STAGE_FIELDS = {
    "tasks": "numTasks",
    "task_cpu_s": "executorCpuTime",  # ns
    "task_run_s": "executorRunTime",  # ms
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
    "gc_s": "jvmGcTime",  # ms
}
SCALE = {"task_cpu_s": 1e-9, "task_run_s": 1e-3, "gc_s": 1e-3}


class CpuClock:
    """Python process CPU plus JVM process CPU, in seconds."""

    def __init__(self, jvm_pid: int):
        self.stat = f"/proc/{jvm_pid}/stat"
        self.tick = os.sysconf("SC_CLK_TCK")

    def jvm(self) -> float:
        with open(self.stat) as f:
            # fields after the parenthesised command: utime is 14th, stime 15th
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / self.tick

    def read(self) -> tuple[float, float]:
        return time.process_time(), self.jvm()


class Tracer:
    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.enabled = False
        self.cycle: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._last_job = -1
        self.jobs: dict[int, dict] = {}  # span id -> summed Spark metrics
        self.own_s = 0.0

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one call. Yields the span record (None when tracing is off)
        so callers can attach counts to it."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "workload": self.workload,
            "cycle": self.cycle,
            **attrs,
        }
        self._next_id += 1
        self._stack.append(rec)
        self.sc.setLocalProperty(JOB_GROUP, f"pb{rec['id']}")
        rec["start"] = time.perf_counter()
        self.own_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, f"pb{parent['id']}" if parent else None)
            self.spans.append(rec)
            self.own_s += time.perf_counter() - rec["end"]

    def patch(self, owner, attr: str, name: str, path_of=None, on_return=None) -> None:
        """Wrap ``owner.attr`` in a span named ``name``. ``path_of(args)``
        names a directory whose data files are listed before and after the
        call, outside the span's own timing: the files that are new or
        changed (size or mtime) after it are the files and bytes it wrote,
        so a rewrite counts in full; ``on_return(out, span)`` records counts
        from the result."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            t0 = time.perf_counter()
            path = path_of(args) if path_of else None
            before = data_files(path) if path else None
            self.own_s += time.perf_counter() - t0
            with self.span(name) as rec:
                out = original(*args, **kwargs)
            if path:
                t0 = time.perf_counter()
                stamp = lambda st: (st.st_size, st.st_mtime_ns)  # noqa: E731
                new = [st for f, st in data_files(path).items()
                       if f not in before or stamp(before[f]) != stamp(st)]
                rec["files_written"] = len(new)
                rec["bytes_written"] = sum(st.st_size for st in new)
                self.own_s += time.perf_counter() - t0
            if isinstance(out, bool):
                rec["returned"] = out
            if on_return:
                on_return(out, rec)
            return out

        setattr(owner, attr, wrapper)

    # -- Spark attribution ---------------------------------------------------

    def harvest(self) -> None:
        """Attribute every job finished since the last harvest to the span
        whose group it ran under (jobs outside any span are skipped)."""
        jvm = self.sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = self.sc._jsc.sc().statusStore()
        empty = self.sc._gateway.new_array(jvm.double, 0)
        newest = self._last_job
        for job in conv.asJava(store.jobsList(None)):  # newest first
            jid = job.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            group = job.jobGroup()
            if not group.isDefined() or not group.get().startswith("pb"):
                continue
            acc = self.jobs.setdefault(int(group.get()[2:]), {"jobs": 0, "stages": 0})
            acc["jobs"] += 1
            for sid in conv.asJava(job.stageIds()):
                for stage in conv.asJava(store.stageData(sid, False, None, False, empty)):
                    if stage.status().toString() == "SKIPPED":
                        continue
                    acc["stages"] += 1
                    for key, field in STAGE_FIELDS.items():
                        fields = field if isinstance(field, tuple) else (field,)
                        val = sum(getattr(stage, f)() for f in fields) * SCALE.get(key, 1)
                        acc[key] = acc.get(key, 0) + val
        self._last_job = newest

    # -- output --------------------------------------------------------------

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time and Spark work."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        own = self_times(self.spans)
        with open(path, "w") as f:
            for rec in self.spans:
                row = dict(rec, self_s=own[rec["id"]], spark=self.jobs.get(rec["id"], {}))
                f.write(json.dumps(row, default=str) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its direct children cover."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
    return {s["id"]: (s["end"] - s["start"]) - child.get(s["id"], 0.0) for s in spans}
