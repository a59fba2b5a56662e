"""Traced execution of one benchmark operation.

Tracing happens only in the traced run (`--trace 1`).  Each op runs
under two Spark job groups, `bench::<workload>::<op>::build` and
`bench::<workload>::<op>::exec`; jobs in the build group are the jobs
the entry point ran while building its DataFrame (eager jobs).  After
the op, the benchmark waits for Spark's listener bus to drain and reads
job and stage data from Spark's status store.  Spans and per-op layer
records are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

MB = 1024.0 * 1024.0
PHASES = ("analysis", "optimization", "planning")


class StreamCounter(StreamingQueryListener):
    """Counts streaming queries started, micro-batches and input rows."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []
        self.batches = 0
        self.rows = 0

    def onQueryStarted(self, event) -> None:  # noqa: N802 - Spark callback name
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.batches += 1
        self.rows += int(event.progress.numInputRows)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of [start, end] millisecond intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


class StatusReader:
    """Reads finished jobs and stages from Spark's status store."""

    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        jvm = self.sc._jvm
        self._no_statuses = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def drain(self) -> None:
        """Block until every posted Spark event has reached the store."""
        self.jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, job_ids: list[int]) -> dict[str, Any]:
        """Totals over the given jobs: wall covered, stages, tasks, bytes."""
        out = {
            "jobs": len(job_ids), "wall_s": 0.0, "sink_s": 0.0, "stages": 0,
            "tasks": 0, "failed_tasks": 0, "task_run_s": 0.0, "input_mb": 0.0, "output_mb": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        }
        spans: list[tuple[int, int]] = []
        sink_spans: list[tuple[int, int]] = []
        seen: set[int] = set()
        for jid in job_ids:
            jd = self.store.job(jid)
            if not (jd.submissionTime().isDefined() and jd.completionTime().isDefined()):
                continue
            span = (jd.submissionTime().get().getTime(), jd.completionTime().get().getTime())
            spans.append(span)
            wrote = False
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self.store.stageData(
                    sid, False, self._no_statuses, False, self._no_quantiles
                ).iterator()
                while attempts.hasNext():
                    sd = attempts.next()
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["failed_tasks"] += sd.numFailedTasks()
                    out["task_run_s"] += sd.executorRunTime() / 1000.0
                    out["input_mb"] += sd.inputBytes() / MB
                    out["output_mb"] += sd.outputBytes() / MB
                    out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                    out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                    out["spill_mb"] += sd.diskBytesSpilled() / MB
                    wrote = wrote or sd.outputBytes() > 0
            if wrote:
                sink_spans.append(span)
        out["wall_s"] = _union_s(spans)
        out["sink_s"] = _union_s(sink_spans)
        out["spans"] = spans
        return out

    def persisted_rdds(self) -> int:
        return self.jsc.getPersistentRDDs().size()

    def storage_mb(self) -> float:
        total = 0
        it = self.store.rddList(True).iterator()
        while it.hasNext():
            r = it.next()
            total += r.memoryUsed() + r.diskUsed()
        return total / MB


class Tracer:
    """Span recorder plus the per-op layer split of the traced run."""

    def __init__(self, spark: SparkSession, workload: str) -> None:
        self.spark = spark
        self.workload = workload
        self.status = StatusReader(spark)
        self.streams = StreamCounter()
        spark.streams.addListener(self.streams)
        self.spans: list[dict[str, Any]] = []
        self.ops: list[dict[str, Any]] = []
        self.persisted_base = 0
        # job groups repeat every pass; each job is attributed once
        self.seen_jobs: set[int] = set()

    @contextmanager
    def span(self, name: str, parent: int | None, **attrs: Any) -> Iterator[int]:
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent, "start": time.time(), **attrs}
        self.spans.append(rec)
        try:
            yield sid
        finally:
            rec["end"] = time.time()

    def _new_jobs(self, groups: list[str]) -> list[int]:
        ids = {j for g in groups for j in self.status.job_ids(g)} - self.seen_jobs
        self.seen_jobs |= ids
        return sorted(ids)

    def run_op(
        self,
        op: str,
        parent: int,
        build: Callable[[], Any],
        execute: Callable[[Any], None] | None,
    ) -> tuple[Any, dict[str, Any]]:
        """Run one op traced; returns (build result, layer record).

        `build` calls the entry point and returns a DataFrame or None;
        `execute`, when given, runs the final action on it."""
        sc = self.spark.sparkContext
        group = f"bench::{self.workload}::{op}"
        streams_before = len(self.streams.run_ids)
        batches0, rows0 = self.streams.batches, self.streams.rows
        rec: dict[str, Any] = {"op": op, **{f"catalyst.{p}_ms": 0.0 for p in PHASES}}
        rec["catalyst.exchanges"] = 0
        result = None
        with self.span(op, parent) as op_span:
            try:
                t0 = time.perf_counter()
                with self.span("build", op_span):
                    sc.setJobGroup(f"{group}::build", f"{group}::build")
                    result = build()
                t1 = time.perf_counter()
                if execute is not None and result is not None:
                    with self.span("exec", op_span):
                        sc.setJobGroup(f"{group}::exec", f"{group}::exec")
                        qe = result._jdf.queryExecution()
                        plan = qe.executedPlan()
                        phases = qe.tracker().phases()
                        for p in PHASES:
                            ph = phases.get(p)
                            if ph.isDefined():
                                rec[f"catalyst.{p}_ms"] = float(ph.get().durationMs())
                        rec["catalyst.exchanges"] = sum(
                            "Exchange" in line for line in plan.toString().splitlines()
                        )
                        execute(result)
                t2 = time.perf_counter()
            finally:
                sc._jsc.clearJobGroup()
                self.status.drain()
        stream_groups = self.streams.run_ids[streams_before:]
        bj = self.status.jobs(self._new_jobs([f"{group}::build", *stream_groups]))
        ej = self.status.jobs(self._new_jobs([f"{group}::exec"]))
        for kind, jobs in (("build", bj), ("exec", ej)):
            for s, e in jobs.pop("spans"):
                self.spans.append({"id": len(self.spans), "name": f"job:{kind}",
                                   "parent": op_span, "start": s / 1000.0, "end": e / 1000.0})
        build_s, exec_s = t1 - t0, t2 - t1
        rec.update({
            "build_s": build_s,
            "exec_s": exec_s,
            "plans.build_s": build_s,
            "plans.eager_jobs": bj["jobs"],
            "plans.eager_job_s": bj["wall_s"],
            "plans.driver_s": build_s - bj["wall_s"],
            "sources.scan_mb": bj["input_mb"] + ej["input_mb"],
            "sources.sink_s": bj["sink_s"] + ej["sink_s"],
            "sources.written_mb": bj["output_mb"] + ej["output_mb"],
            "streaming.drain_s": build_s if stream_groups else 0.0,
            "streaming.batches": self.streams.batches - batches0,
            "streaming.rows": self.streams.rows - rows0,
            "cache.persisted_rdds": self.status.persisted_rdds() - self.persisted_base,
            "cache.storage_mb": self.status.storage_mb(),
            "exec.s": exec_s,
            "exec.jobs": ej["jobs"],
            "exec.stages": ej["stages"],
            "exec.tasks": ej["tasks"],
            "exec.task_run_s": ej["task_run_s"],
            "exec.shuffle_read_mb": ej["shuffle_read_mb"],
            "exec.shuffle_write_mb": ej["shuffle_write_mb"],
            "exec.spill_mb": ej["spill_mb"],
            "exec.failed_tasks": ej["failed_tasks"],
        })
        self.ops.append(rec)
        return result, rec

    def dump(self, path: str, extra: dict[str, Any]) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, fh, indent=1)
            fh.write("\n")
