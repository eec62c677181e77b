"""Per-layer spans measured from outside the engine.

Each call into a layer's public function runs under its own Spark job
group. After the call returns, the jobs of that group are read back from
``statusTracker().getJobIdsForGroup`` and their stages from the status
store's ``lastStageAttempt`` — this works with ``spark.ui.enabled=false``
and also catches the side jobs AQE and broadcast exchanges start, since
Spark propagates the job group to them. Spans nest: an inner span takes
over the job group and hands it back when it ends, and the outer span's
time is reported as self time (its wall time minus its children's).

Spans are kept in memory, one list per operation, and summarised when
the run ends.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    layer: str
    wall_s: float = 0.0
    child_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


@dataclass
class Tracer:
    """Job-group spans for one Spark context; ``enabled=False`` makes
    :meth:`span` a plain call, so one workload code path serves the
    traced and the untraced operations."""

    spark: object
    enabled: bool = False
    ops: list[list[Span]] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _seq: int = 0

    def begin_op(self) -> None:
        if self.enabled:
            self.ops.append([])

    def span(self, layer: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"perfbench-{self._seq}-{layer}"
        parent = self._stack[-1] if self._stack else None
        outer_group = sc.getLocalProperty(_GROUP_PROP)
        s = Span(layer)
        self._stack.append(s)
        sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            s.wall_s = time.perf_counter() - t0
            sc.setLocalProperty(_GROUP_PROP, outer_group)
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.wall_s
            self._collect(group, s)
            self.ops[-1].append(s)

    def _collect(self, group: str, s: Span) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # job-end events reach the status store through the async
        # listener bus; drain it so the group's jobs are all recorded
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            s.jobs += 1
            for stage_id in info.stageIds:
                st = store.lastStageAttempt(stage_id)
                if st.status().toString() == "SKIPPED":
                    continue
                s.stages += 1
                s.tasks += st.numTasks()
                s.exec_run_s += st.executorRunTime() / 1000.0
                s.gc_s += st.jvmGcTime() / 1000.0
                s.input_bytes += st.inputBytes()
                s.output_bytes += st.outputBytes()
                s.shuffle_write_bytes += st.shuffleWriteBytes()

    def spans(self, layer: str) -> list[Span]:
        return [s for op in self.ops for s in op if s.layer == layer]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spans: list[Span], cores: int, n_ops: int) -> dict[str, float]:
    """Summary of one layer's spans: its median self time, and per
    operation its mean counts, bytes and executor seconds, plus its
    utilisation (executor run time over wall time times cores)."""
    wall = sum(s.self_s for s in spans)
    run = sum(s.exec_run_s for s in spans)
    per_op = max(n_ops, 1)
    return {
        "s": median([s.self_s for s in spans]),
        "jobs": sum(s.jobs for s in spans) / per_op,
        "stages": sum(s.stages for s in spans) / per_op,
        "tasks": sum(s.tasks for s in spans) / per_op,
        "exec_run_s": run / per_op,
        "gc_s": sum(s.gc_s for s in spans) / per_op,
        "input_bytes": sum(s.input_bytes for s in spans) / per_op,
        "output_bytes": sum(s.output_bytes for s in spans) / per_op,
        "shuffle_bytes": sum(s.shuffle_write_bytes for s in spans) / per_op,
        "util": run / (wall * cores) if wall > 0 else 0.0,
    }


# -- memory, read from /proc -------------------------------------------


def _children(pid: int) -> list[int]:
    kids = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            kids += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            pass
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water RSS of the Spark JVM plus every process below it (the
    Python worker daemon and its workers), as the kernel reports it."""
    seen, todo, kb = set(), [jvm_pid], 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        kb += _hwm_kb(pid)
        todo += _children(pid)
    return kb / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs since boot; a rise across a run means contended timings."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_fingerprint() -> dict[str, object]:
    mem_kb = 0
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
    import platform  # noqa: PLC0415

    import pyspark  # noqa: PLC0415

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_kb,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }
