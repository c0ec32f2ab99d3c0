"""Session, measurement and tracing helpers shared by the workloads.

Nothing here changes package code.  Tracing works from outside: the
benchmark wraps each call it makes into a layer in a span, tags the
Spark jobs the call launches with a job group, and afterwards reads
the per-stage counters of that group from the driver's status store.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Counters summed over the stages of one traced Spark call.
STAGE_COUNTERS = ("stages", "tasks", "failed_tasks", "task_time_s",
                  "shuffle_write_bytes", "spill_bytes")


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def launch_conf(workdir: str) -> dict[str, str]:
    """Session settings the benchmark adds to ``get_spark``'s own: keep
    every scratch file inside ``workdir`` and the console quiet."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": workdir,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": workdir,
        # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={workdir} -XX:-UsePerfData",
    }


def start_session(cores: int, workdir: str):
    """The package's own session factory at ``local[cores]``; the first
    call also launches the JVM.  Returns a session that has run one
    trivial job, so the cost of a first job is part of session start."""
    from exam_pdf_parser_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores,
                      extra_conf=launch_conf(workdir))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session, end the JVM this process launched (it exits
    when its stdin closes) and wait until the JVM and every process it
    started (the Python workers) have ended."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    children = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def noop_write(df) -> None:
    """Execute every column of ``df`` without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.extend(children.get(pid, []))
        todo.extend(children.get(pid, []))
    return out


def process_tree_hwm_mb() -> float:
    """Sum of ``VmHWM`` (peak resident set) over this process and all
    its descendants: the driver JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def stage_counters(sc, job_group: str) -> dict[str, float]:
    """Counters of every stage that ran for ``job_group``, read from the
    driver's live status store (works with ``spark.ui.enabled=false``).
    Skipped stages (shuffle output reused) did no work and are left out."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(job_group)
    stage_ids: set[int] = set()
    for job_id in job_ids:
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(STAGE_COUNTERS, 0.0)
    out["jobs"] = float(len(job_ids))
    if not stage_ids:
        return out
    from py4j.protocol import Py4JJavaError

    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    for stage_id in stage_ids:
        try:
            attempts = store.stageData(
                stage_id, False, jvm.java.util.ArrayList(), False,
                sc._gateway.new_array(jvm.double, 0))
        except Py4JJavaError:     # evicted from the store
            continue
        for i in range(attempts.length()):
            s = attempts.apply(i)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["task_time_s"] += s.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled()
    return out


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A span opened with ``spark=True`` tags the jobs it launches with its
    own job group and records that group's stage counters when it
    closes.  A disabled tracer records nothing and costs nothing, which
    is how the end-to-end runs use it.
    """

    def __init__(self, run_id: str, enabled: bool, sc_getter=None):
        self.run_id = run_id
        self.enabled = enabled
        self._sc = sc_getter
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        # time spent tagging jobs and reading the status store
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, spark: bool = False):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        s = Span(name, time.perf_counter(),
                 self._stack[-1] if self._stack else None, self.run_id)
        self.spans.append(s)
        self._stack.append(idx)
        group = f"{self.run_id}-{idx}"
        sc = self._sc() if spark else None
        if sc is not None:
            t0 = time.perf_counter()
            sc.setJobGroup(group, name)
            self._groups.append(group)
            self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = t0 = time.perf_counter()
            if sc is not None:
                self._groups.pop()
                if self._groups:
                    sc.setJobGroup(self._groups[-1], "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                s.counters = stage_counters(sc, group)
            self.bookkeeping_s += time.perf_counter() - t0
            self._stack.pop()

    def self_seconds(self, idx: int) -> float:
        s = self.spans[idx]
        return s.seconds - sum(c.seconds for c in self.spans
                               if c.parent == idx)

    def spark_totals(self) -> dict[str, float]:
        """Stage counters summed over every Spark-side span."""
        out = dict.fromkeys(STAGE_COUNTERS, 0.0)
        for s in self.spans:
            for k in STAGE_COUNTERS:
                out[k] += s.counters.get(k, 0.0)
        return out

    def cover_frac(self, root: int) -> float:
        """Share of the root span's wall covered by the self time of the
        spans under it: 1.0 means no untraced glue inside the root."""
        wall = self.spans[root].seconds
        return (wall - self.self_seconds(root)) / wall if wall else 0.0

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as one JSON file."""
        rows = [{"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "run_id": s.run_id,
                 "self_s": self.self_seconds(i), "counters": s.counters}
                for i, s in enumerate(self.spans)]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)
