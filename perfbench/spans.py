"""Benchmark-side tracing: spans around public engine calls, joined to
Spark's own stage metrics.

Each span sets a Spark job group before the call it wraps, so every job
the call triggers (including AQE broadcast jobs, which inherit the group)
is tagged. After the workload run the tracer waits for the listener bus to
drain and reads, per group, the job ids (``statusTracker``) and each
stage's last attempt (``statusStore().lastStageAttempt``). Nothing inside
the engine is instrumented; spans live in memory until ``dump``.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    run_id: int
    span_id: int
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class StageTotals:
    """Sums over a set of stages (input, CPU, shuffle, spill)."""

    cpu_s: float = 0.0
    run_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    jobs: int = 0
    widest_stage: int | None = None
    widest_shuffle_read: int = -1


class Tracer:
    """Span recorder bound to one SparkContext.

    ``enabled=False`` keeps only the root span of each run (one job group
    per run, enough for the run's CPU and input totals); the per-call spans
    are then no-ops.
    """

    def __init__(self, spark, cores: int, enabled: bool):
        self.sc = spark.sparkContext
        self.cores = cores
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._run_id = 0
        self._seen_stages: set[int] = set()
        #: seconds the tracer itself spent on the blocking path this run
        self.self_time = 0.0

    # -- recording -------------------------------------------------------

    @contextmanager
    def run(self, name: str):
        """Root span of one workload run."""
        self._run_id += 1
        self._seen_stages = set()
        self.self_time = 0.0
        with self._open(name) as root:
            yield root

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._open(name) as sp:
            yield sp

    @contextmanager
    def _open(self, name: str):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        sp = Span(
            name=name,
            run_id=self._run_id,
            span_id=sid,
            parent=parent.span_id if parent else None,
            group=f"perfbench-{self._run_id}-{sid}",
            start=time.perf_counter(),
        )
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        self.self_time += time.perf_counter() - t_in
        try:
            yield sp
        finally:
            sp.end = t_out = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)
            self.self_time += time.perf_counter() - t_out

    # -- joining spans to stage metrics -----------------------------------

    def stage_totals(self, group: str) -> StageTotals:
        """Sum the metrics of the stages first seen under ``group`` (a
        stage reused by a later job is counted once, for its first span)."""
        jsc = self.sc._jsc.sc()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        tot = StageTotals()
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        tot.jobs = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in self._seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage never ran (skipped, not stored)
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                self._seen_stages.add(sid)
                tot.cpu_s += st.executorCpuTime() / 1e9
                tot.run_s += st.executorRunTime() / 1e3
                tot.input_bytes += st.inputBytes()
                tot.input_records += st.inputRecords()
                tot.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
                tot.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if st.shuffleReadBytes() > tot.widest_shuffle_read:
                    tot.widest_shuffle_read = st.shuffleReadBytes()
                    tot.widest_stage = sid
        return tot

    def task_skew(self, stage_id: int | None) -> float:
        """max / median executor run time over the tasks of one stage."""
        if stage_id is None:
            return 0.0
        store = self.sc._jsc.sc().statusStore()
        st = store.lastStageAttempt(stage_id)
        tasks = store.taskList(stage_id, st.attemptId(), 1 << 20)
        times = sorted(
            tasks.apply(i).taskMetrics().get().executorRunTime()
            for i in range(tasks.size())
            if tasks.apply(i).taskMetrics().isDefined()
        )
        if not times:
            return 0.0
        mid = len(times) // 2
        med = times[mid] if len(times) % 2 else (times[mid - 1] + times[mid]) / 2
        return times[-1] / med if med > 0 else float(times[-1] > 0)

    def drain(self) -> None:
        """Wait until every listener event (job/stage end) is applied to
        the status store."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def close_run(self, root: Span) -> tuple[dict[str, dict], StageTotals]:
        """Fill the counters of every span of ``root``'s run.

        Returns (counters summed per span name — a name can occur several
        times in one run —, stage totals of the whole run)."""
        self.drain()
        children = sorted(
            (s for s in self.spans if s.run_id == root.run_id and s is not root),
            key=lambda s: s.start,
        )
        whole = StageTotals()
        by_name: dict[str, dict] = {}
        for sp in children + [root]:
            tot = self.stage_totals(sp.group)
            for k in ("cpu_s", "run_s", "input_bytes", "input_records",
                      "shuffle_bytes", "spill_bytes", "jobs"):
                setattr(whole, k, getattr(whole, k) + getattr(tot, k))
            if sp is root:
                tot = whole
            child_wall = sum(c.wall for c in children if c.parent == sp.span_id)
            sp.counters = {
                "wall_s": sp.wall,
                "self_s": sp.wall - child_wall,
                "cpu_s": tot.cpu_s,
                "shuffle_mb": tot.shuffle_bytes / _MB,
                "spill_mb": tot.spill_bytes / _MB,
                "jobs": tot.jobs,
                "run_s": tot.run_s,
                "share": sp.wall / root.wall if root.wall > 0 else 0.0,
                "task_skew": self.task_skew(tot.widest_stage)
                if self.enabled else 0.0,
            }
            agg = by_name.setdefault(sp.name, {k: 0.0 for k in sp.counters})
            for k, v in sp.counters.items():
                agg[k] = max(agg[k], v) if k == "task_skew" else agg[k] + v
        for agg in by_name.values():
            wall = agg["wall_s"]
            agg["busy"] = agg["run_s"] / (self.cores * wall) if wall > 0 else 0.0
        return by_name, whole

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "meta": meta,
                    "spans": [
                        {
                            "name": s.name, "run_id": s.run_id,
                            "span_id": s.span_id, "parent": s.parent,
                            "start": s.start, "end": s.end,
                            **s.counters,
                        }
                        for s in self.spans
                    ],
                },
                f, indent=1,
            )
