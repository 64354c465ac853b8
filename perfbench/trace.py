"""Measurement from outside the program: a process sampler reading
``/proc``, a digest of Spark's own event log, and noop-sink timing.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:  # the process ended between glob and open
            continue
        # comm may hold spaces and parentheses: split after the last ')'
        fields = raw[raw.rindex(")") + 2 :].split()
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class ProcessSampler:
    """Samples, every ``interval`` seconds, the summed PSS of every
    process descended from this one (the driver JVM, the PySpark
    daemon and its forked workers) and the number of those that are
    Python processes.  This process itself is left out: it holds the
    benchmark's oracles, not the program."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_pss_kb = 0
        self.peak_python = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        kids = _children()
        todo, tree = list(kids.get(os.getpid(), [])), []
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(kids.get(pid, []))
        self.peak_pss_kb = max(self.peak_pss_kb, sum(_pss_kb(p) for p in tree))
        self.peak_python = max(self.peak_python, sum(_is_python(p) for p in tree))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "ProcessSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def call_s(fn, reps: int = 1) -> float:
    """Median wall seconds of ``reps`` calls of ``fn``."""
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def noop_s(df, reps: int = 1) -> float:
    """Median wall seconds to run ``df`` through the ``noop`` sink:
    the plan executes in full and nothing is written."""
    return call_s(lambda: df.write.format("noop").mode("overwrite").save(), reps)


class JobGroup:
    """Tags every Spark job started inside the block with one job
    group, the key the event-log digest groups by."""

    def __init__(self, spark, name: str):
        self.sc = spark.sparkContext
        self.name = name

    def __enter__(self):
        self.sc.setJobGroup(self.name, self.name)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)


def digest_event_log(log_dir: str, since_ms: float) -> dict[str, dict[str, float]]:
    """Per job group, over the jobs submitted from ``since_ms`` (epoch
    milliseconds) on: jobs, executor seconds, input records read,
    shuffle bytes written and bytes spilled to disk, summed over the
    group's tasks.  Reads Spark's uncompressed JSON event log (the
    rolling ``eventlog_v2_*`` directory or a single file) after the
    context stopped, so the log is complete."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and "appstatus" not in os.path.basename(p))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None or ev["Submission Time"] < since_ms:
                        continue
                    out[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    g["executor_s"] += m["Executor Run Time"] / 1000.0
                    g["records_read"] += m["Input Metrics"]["Records Read"]
                    g["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    g["spill_bytes"] += m["Disk Bytes Spilled"]
    return {k: dict(v) for k, v in out.items()}
