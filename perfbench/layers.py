"""Per-layer tracing from outside the program.

Every number here is read from Spark's own status surfaces around
calls into the registered query functions; nothing inside
`bitcoin_olap_spark/` is instrumented:

1. each query's construction and final action run under the job groups
   `<qid>:construct` and `<qid>:action` (a stream started during
   construction runs its micro-batch jobs under its own run id);
2. Catalyst phase times come from the action's `QueryExecution`
   tracker (the action is forced through that same `QueryExecution`);
3. stage metrics are summed per job group from the status store;
4. Python-node SQL metrics come from the action's executed plan and from
   the SQL executions that construction issued;
5. micro-batch progress arrives through a `StreamingQueryListener`;
6. Python-worker CPU is read from /proc (metrics.tree_cpu_s).
"""

from __future__ import annotations

import os
import time

from pyspark.sql.streaming import StreamingQueryListener

from metrics import tree_cpu_s

#: per-query layer record keys, in report order
LAYER_KEYS = (
    "queries.construct_s",
    "queries.construct_jobs",
    "catalyst.analysis_s",
    "catalyst.optimization_s",
    "catalyst.planning_s",
    "exec.action_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.executor_cpu_s",
    "exec.executor_run_s",
    "exec.input_mb",
    "exec.shuffle_write_mb",
    "exec.shuffle_read_mb",
    "exec.spill_mb",
    "exec.gc_s",
    "pyworker.exec_s",
    "pyworker.boot_s",
    "pyworker.cpu_s",
    "streaming.batches",
    "streaming.batch_ms",
    "streaming.state_rows",
    "acidtable.files_written",
    "acidtable.bytes_written_mb",
)

_PY_EXEC = "time to run Python workers"
_PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
_FILES = "number of written files"
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """Total of a rendered SQL metric: "1,234", "1.7 s", or the
    multi-task form "total (min, med, max ...)\\n1.7 s (...)"; times
    come back in seconds."""
    line = text.strip().split("\n")[-1].split()
    value = float(line[0].replace(",", ""))
    if len(line) > 1 and line[1] in _UNIT_S:
        value *= _UNIT_S[line[1]]
    return value


class _Progress(StreamingQueryListener):
    """Records (run id, trigger ms, state rows) per micro-batch, and
    (run id, None, None) when a stream starts."""

    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):
        self.sink.append((str(event.runId), None, None))

    def onQueryProgress(self, event):
        p = event.progress
        self.sink.append(
            (
                str(p.runId),
                float(p.durationMs.get("triggerExecution", 0)),
                sum(op.numRowsTotal for op in p.stateOperators),
            )
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Runs one query at a time and returns its layer record."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.sql_seen = int(self.sql.executionsCount())
        self.jobs_seen: set[int] = set()
        self.stages_seen: set[int] = set()
        self.progress: list = []
        spark.streams.addListener(_Progress(self.progress))

    def run(self, qid: str, fn, data_dir: str) -> dict:
        rec = dict.fromkeys(LAYER_KEYS, 0.0)
        n_progress = len(self.progress)
        py_cpu0 = tree_cpu_s(os.getpid(), match="pyspark.daemon")

        self.sc.setJobGroup(f"{qid}:construct", qid)
        t0 = time.perf_counter()
        df = fn(self.spark, data_dir)
        t1 = time.perf_counter()
        self.sc.setJobGroup(f"{qid}:action", qid)
        qe = df._jdf.queryExecution()
        qe.toRdd().count()
        t2 = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.bus.waitUntilEmpty()

        rec["queries.construct_s"] = t1 - t0
        rec["exec.action_s"] = t2 - t1
        rec["pyworker.cpu_s"] = (
            tree_cpu_s(os.getpid(), match="pyspark.daemon") - py_cpu0
        )
        phases = qe.tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            if phases.contains(name):
                rec[f"catalyst.{name}_s"] = phases.apply(name).durationMs() / 1e3

        status = self.sc.statusTracker()
        events = self.progress[n_progress:]
        # a stream's micro-batch jobs run under its run id as job group
        construct_jobs = self._new_jobs(status, f"{qid}:construct")
        for run_id in dict.fromkeys(e[0] for e in events):
            construct_jobs += self._new_jobs(status, run_id)
        action_jobs = self._new_jobs(status, f"{qid}:action")
        rec["queries.construct_jobs"] = len(construct_jobs)
        rec["exec.jobs"] = len(construct_jobs) + len(action_jobs)
        for jid in (*construct_jobs, *action_jobs):
            info = status.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid not in self.stages_seen:
                    self.stages_seen.add(sid)
                    self._add_stage(rec, sid)

        self._add_plan_python(rec, qe.executedPlan())
        self._add_sql_executions(rec)
        self._add_progress(rec, events)
        return rec

    def _new_jobs(self, status, group: str) -> list[int]:
        """Jobs of `group` not seen before: every pass reuses the group
        names, and the status tracker lists a group's jobs of all passes."""
        jobs = [j for j in status.getJobIdsForGroup(group) if j not in self.jobs_seen]
        self.jobs_seen.update(jobs)
        return jobs

    def _add_stage(self, rec: dict, sid: int) -> None:
        sd = self.store.lastStageAttempt(sid)
        if sd.numCompleteTasks() == 0:
            return  # skipped: its work was counted where it ran
        rec["exec.stages"] += 1
        rec["exec.tasks"] += sd.numCompleteTasks()
        rec["exec.executor_cpu_s"] += sd.executorCpuTime() / 1e9
        rec["exec.executor_run_s"] += sd.executorRunTime() / 1e3
        rec["exec.input_mb"] += sd.inputBytes() / 1e6
        rec["exec.shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        rec["exec.shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
        rec["exec.spill_mb"] += (
            sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        ) / 1e6
        rec["exec.gc_s"] += sd.jvmGcTime() / 1e3
        rec["acidtable.bytes_written_mb"] += sd.outputBytes() / 1e6

    def _add_plan_python(self, rec: dict, plan) -> None:
        """Python-node metrics of the final action's executed plan (the
        action runs outside any SQL execution, so these live only on the
        plan nodes)."""
        todo = [plan]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(node.plan())
                continue
            metrics = node.metrics()
            if metrics.contains("pythonTotalTime"):
                rec["pyworker.exec_s"] += metrics.apply("pythonTotalTime").value() / 1e3
                for key in ("pythonBootTime", "pythonInitTime"):
                    if metrics.contains(key):
                        rec["pyworker.boot_s"] += metrics.apply(key).value() / 1e3
            children = node.children().iterator()
            while children.hasNext():
                todo.append(children.next())

    def _add_sql_executions(self, rec: dict) -> None:
        """Python and file-write metrics of every SQL execution the query
        issued (construction-time eager jobs and write commands)."""
        count = int(self.sql.executionsCount())
        if count <= self.sql_seen:
            return
        runs = self.sql.executionsList(self.sql_seen, count - self.sql_seen)
        self.sql_seen = count
        it = runs.iterator()
        while it.hasNext():
            ex = it.next()
            values = self.sql.executionMetrics(ex.executionId())
            plan_metrics = ex.metrics()
            for i in range(plan_metrics.size()):
                m = plan_metrics.apply(i)
                name = m.name()
                if name not in (_PY_EXEC, _FILES, *_PY_BOOT):
                    continue
                text = values.get(m.accumulatorId())
                if text.isEmpty():
                    continue
                v = parse_sql_metric(text.get())
                if name == _PY_EXEC:
                    rec["pyworker.exec_s"] += v
                elif name == _FILES:
                    rec["acidtable.files_written"] += v
                else:
                    rec["pyworker.boot_s"] += v

    @staticmethod
    def _add_progress(rec: dict, events: list) -> None:
        last_state: dict[str, float] = {}
        for run_id, ms, state_rows in events:
            if ms is None:
                continue
            rec["streaming.batches"] += 1
            rec["streaming.batch_ms"] += ms
            last_state[run_id] = state_rows
        rec["streaming.state_rows"] = float(sum(last_state.values()))
