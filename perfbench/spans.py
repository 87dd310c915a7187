"""Spans around calls into the program's layers, plus Spark status-store reads.

A span records its name, start, end, parent span and the run id shared by
every span of one benchmark run.  With tracing on, each span runs its Spark
jobs under its own job group; on exit the group's jobs are read back from
the status store (``job(id).stageIds()`` → ``lastStageAttempt(sid)``) for
executor time, shuffle bytes, spill and per-task skew.  Spans stay in memory
and are written as one JSON file when the run ends.

With tracing off a span is only a monotonic-clock timer, so the untraced
run measures the program and nothing else.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[Dict] = []
        self._stack: List[Dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "run_id": self.run_id, "id": len(self.spans),
               "parent": self._stack[-1]["id"] if self._stack else None,
               "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext if self.enabled else None
        group = f"{self.run_id}:{rec['id']}"
        if sc is not None:
            sc.setJobGroup(group, name)
        rec["start"] = time.time()
        t0 = time.monotonic()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.monotonic() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                parent = self._stack[-1] if self._stack else None
                if parent is not None:
                    sc.setJobGroup(f"{self.run_id}:{parent['id']}", parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                rec["spark"] = group_stats(sc, group)

    def dump(self, path: str, extra: Optional[Dict] = None) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       **(extra or {})}, fh, indent=1, default=str)


def _opt_ms(opt) -> Optional[int]:
    return opt.get().getTime() if opt.isDefined() else None


def group_stats(sc, group: str) -> Dict:
    """Totals over every job run under ``group``, read from the status store."""
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    stats = {"jobs": [], "stages": 0, "tasks": 0, "executor_run_s": 0.0,
             "executor_cpu_s": 0.0, "shuffle_read_bytes": 0,
             "shuffle_write_bytes": 0, "spill_bytes": 0,
             "heaviest_stage_skew": None}
    heaviest = -1
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        stats["jobs"].append({"id": jid, "name": job.name(),
                              "submit_ms": _opt_ms(job.submissionTime()),
                              "complete_ms": _opt_ms(job.completionTime())})
        sids = job.stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                continue
            if st.status().toString() != "COMPLETE":
                continue
            run_ms = st.executorRunTime()
            stats["stages"] += 1
            stats["tasks"] += st.numTasks()
            stats["executor_run_s"] += run_ms / 1000.0
            stats["executor_cpu_s"] += st.executorCpuTime() / 1e9
            stats["shuffle_read_bytes"] += st.shuffleReadBytes()
            stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
            stats["spill_bytes"] += st.diskBytesSpilled()
            if run_ms > heaviest and st.numTasks() > 1:
                dist = store.taskSummary(sid, st.attemptId(), quantiles)
                if dist.isDefined():
                    q = dist.get().executorRunTime()
                    median, top = q.apply(0), q.apply(1)
                    if median > 0:
                        heaviest = run_ms
                        stats["heaviest_stage_skew"] = top / median
    return stats


def merged_stats(spans: List[Dict]) -> Dict:
    """Sum of the status-store totals of several spans."""
    out = {"jobs": [], "stages": 0, "tasks": 0, "executor_run_s": 0.0,
           "executor_cpu_s": 0.0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "heaviest_stage_skew": 0.0}
    for s in spans:
        st = s.get("spark")
        if not st:
            continue
        out["jobs"].extend(st["jobs"])
        for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            out[k] += st[k]
        out["heaviest_stage_skew"] = max(out["heaviest_stage_skew"],
                                         st["heaviest_stage_skew"] or 0.0)
    return out


def job_busy_union_s(jobs: List[Dict]) -> float:
    """Seconds covered by at least one running job."""
    iv = sorted((j["submit_ms"], j["complete_ms"]) for j in jobs
                if j["submit_ms"] is not None and j["complete_ms"] is not None)
    covered, cur_s, cur_e = 0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered / 1000.0


def job_kind(name: str) -> str:
    """Call-site kind of a Spark job: a Python action names its file:line,
    a broadcast runs from a CompletableFuture, a parquet write from a
    reflective JVM call."""
    if ".py:" in name:
        return "python_action"
    if "CompletableFuture" in name:
        return "broadcast"
    if "NativeMethodAccessorImpl" in name:
        return "write"
    return "other"
