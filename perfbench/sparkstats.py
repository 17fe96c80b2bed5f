"""Read what Spark already records about a finished action.

Three sources, none of which starts a job:

- the StatusTracker, for the jobs, stages and tasks of one job group;
- the executed plan's SQL metrics (shuffle, spill, Python-worker traffic);
- ``queryExecution().tracker()``, for the Catalyst phase times.
"""

from __future__ import annotations

import re

#: nodes whose metrics live on another node of the tree
_STAGE_WRAPPERS = ("ShuffleQueryStage", "BroadcastQueryStage", "TableCacheQueryStage",
                   "ResultQueryStage")
_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")
#: plan metric key -> benchmark counter it adds to
PLAN_KEYS = {
    "shuffleBytesWritten": "exec.shuffle_write_bytes",
    "localBytesRead": "exec.shuffle_read_bytes",
    "remoteBytesRead": "exec.shuffle_read_bytes",
    "spillSize": "exec.spill_bytes",
    "pythonDataSent": "exec.python_boundary_bytes",
    "pythonDataReceived": "exec.python_boundary_bytes",
    "pythonTotalTime": "exec.python_boundary_s",  # milliseconds in the plan
}


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def plan_metrics(jdf) -> dict[str, float]:
    """Sum the :data:`PLAN_KEYS` metrics over the executed plan of ``jdf``,
    following adaptive query stages and subqueries. Reused exchanges are
    skipped, since their metrics are counted where they were built."""
    out = dict.fromkeys(PLAN_KEYS.values(), 0.0)
    stack = [jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name in _STAGE_WRAPPERS:
            stack.append(node.plan())
            continue
        if name.startswith("ReusedExchange") or name == "ReusedSubquery":
            continue
        for key, value in _METRIC_RE.findall(node.metrics().toString()):
            if key in PLAN_KEYS:
                scale = 1e-3 if key == "pythonTotalTime" else 1.0
                out[PLAN_KEYS[key]] += int(value) * scale
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return out


def catalyst_phases(jdf) -> dict[str, float]:
    """Seconds spent in analysis, optimization and planning."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[f"catalyst.{phase}_s"] = summary.get().durationMs() / 1e3 if summary.isDefined() else 0.0
    return out


def job_group_stats(sc, group: str) -> dict[str, int]:
    """Jobs, stages that ran tasks, completed tasks and failed tasks of one
    job group, from the StatusTracker."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is None:
                continue
            if stage.numCompletedTasks or stage.numFailedTasks:
                stages += 1
            tasks += stage.numCompletedTasks
            failed += stage.numFailedTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "tasks_failed": failed}


def persistent_rdds(sc) -> int:
    return sc._jsc.getPersistentRDDs().size()


class OpStats:
    """Per-operation Spark counters for traced runs. ``begin`` opens a job
    group per phase (construct, action); ``finish`` reads every source
    above with the RPC counter paused."""

    def __init__(self, rpc, run_id: str):
        self.rpc = rpc
        self.run_id = run_id
        self.n = 0
        self._rpc_start = 0
        self._rpc_construct = 0

    def _group(self, phase: str) -> str:
        return f"{self.run_id}-{self.n}-{phase}"

    def begin(self, spark, phase: str) -> None:
        with self.rpc.pause():
            if phase == "construct":
                self.n += 1
                self._rpc_start = self.rpc.n
            else:
                self._rpc_construct = self.rpc.n - self._rpc_start
            spark.sparkContext.setJobGroup(self._group(phase), f"benchmark {phase}")

    def finish(self, spark, df, rows_out: int) -> dict[str, float]:
        with self.rpc.pause():
            sc = spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", None)
            built = job_group_stats(sc, self._group("construct"))
            acted = job_group_stats(sc, self._group("action"))
            return {
                "py4j.rpcs": self._rpc_construct,
                "spark.jobs_construct": built["jobs"],
                "spark.jobs_action": acted["jobs"],
                "spark.stages_action": acted["stages"],
                "spark.tasks_action": acted["tasks"],
                "spark.tasks_failed": built["tasks_failed"] + acted["tasks_failed"],
                "exec.rows_out": rows_out,
                "exec.persistent_rdds_after": persistent_rdds(sc),
                **plan_metrics(df._jdf),
                **catalyst_phases(df._jdf),
            }
