"""Per-stage Spark metrics, attributed by job tag.

``with observe() as record:`` runs its block under a unique job tag
(``SparkContext.addJobTag``: thread-local, and carried into worker
threads by pyspark's ``inheritable_thread_target``). On a normal exit
it drains the listener bus and reads Spark's core and SQL status stores,
which are filled with the UI disabled, for only the tagged jobs and the
SQL executions that ran them, so the records of concurrent stages are
disjoint. Only ids newer than the marks taken on entry are read, so the
cost does not grow with what the stores retain. A job group would do
the tagging too, but ``statusTracker().getJobIdsForGroup(None)`` hides
jobs that have a group.

The record (sizes in MiB, times in seconds):

* ``wall_s``; ``jobs`` and ``executions``: the job and SQL execution ids;
* ``task_run_s``, ``task_cpu_s``: executor time summed over the tasks;
* ``input_mb``: file scans' "size of files read" (the tasks' own input
  metric misses what a Python operator's feeder thread reads);
* ``shuffle_read_mb``, ``shuffle_write_mb``, ``spill_mb``;
* ``rows_written``, ``files_written``, ``written_mb``: the file writes;
* ``exchanges``: shuffle Exchange nodes in the executed plans;
* ``python_run_s``, ``python_sent_mb``, ``python_returned_mb``: the
  MapInPandas operators' Python workers and Arrow transfer;
* ``skew``: max / median task run time of the Spark stage with the most
  task time (null when no task ran);
* ``observe_s``: the time spent reading the stores.

``observed_write(df, write, **aggregates)`` is the other half: the
aggregates a caller reports about an output, taken on the one write
that produces it (an ``Observation``), not by a scan of what was
written.
"""

from __future__ import annotations

import contextlib
import time
import uuid

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession

_WRITE = "Execute InsertIntoHadoopFsRelationCommand"
_UNITS = {
    "B": 2.0**-20, "KiB": 2.0**-10, "MiB": 1.0, "GiB": 2.0**10, "TiB": 2.0**20,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
# plan-node metric -> record field
_PLAN_METRICS = {
    "size of files read": "input_mb",
    "number of output rows": "rows_written",  # read on write nodes only
    "number of written files": "files_written",
    "written output": "written_mb",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_returned_mb",
}


def _metric_value(text: str) -> float:
    """A formatted SQL metric ("100,000", "8.5 s", or the per-task
    "total (min, med, max ...)\\n798.4 KiB (...)") as a number of rows,
    seconds or MiB."""
    tok = text.split("\n")[-1].split()
    num = float(tok[0].replace(",", ""))
    return num * _UNITS.get(tok[1], 1.0) if len(tok) > 1 else num


def _ints(seq) -> set[int]:
    """A Scala collection of ints, in one gateway call."""
    return {int(x) for x in seq.mkString(",").split(",") if x}


class _Stores:
    """The status stores and the two kinds of entry a record reads."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self.gateway, self.bus = sc._gateway, sc._jsc.sc().listenerBus()
        self.core = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        cls = sc._jvm.java.lang.Class.forName
        # both stores keep their entries in the core store's KV store
        self.kinds = {
            "jobs": (cls("org.apache.spark.status.JobDataWrapper"),
                     lambda w: w.info().jobId()),
            "executions": (
                cls("org.apache.spark.sql.execution.ui.SQLExecutionUIData"),
                lambda e: e.executionId(),
            ),
        }

    def newer(self, kind: str, mark: int):
        """(id, entry) of ``kind`` with an id above ``mark``, newest first."""
        cls, key = self.kinds[kind]
        it = self.core.store().view(cls).reverse().closeableIterator()
        try:
            while it.hasNext():
                entry = it.next()
                i = key(entry)
                if i <= mark:
                    return
                yield i, entry
        finally:
            it.close()

    def mark(self, kind: str) -> int:
        return next((i for i, _ in self.newer(kind, -1)), -1)


def observed_write(df: DataFrame, write, **aggregates: Column) -> dict:
    """Run ``write`` on ``df`` observed with the named ``aggregates``
    and return their values as observed on that write: the write's own
    job computes them, so no further job runs."""
    obs = Observation()
    write(df.observe(obs, *[c.alias(k) for k, c in aggregates.items()]))
    return obs.get


@contextlib.contextmanager
def observe():
    """Yield a dict that holds the block's record (module docstring) once
    the block exits normally. The thread's job tags are as before on
    every exit."""
    spark = SparkSession.active()
    stores = _Stores(spark)
    marks = {kind: stores.mark(kind) for kind in stores.kinds}
    tag = f"observe-{uuid.uuid4().hex}"
    record: dict = {}
    t0 = time.perf_counter()
    spark.sparkContext.addJobTag(tag)
    try:
        yield record
    finally:
        spark.sparkContext.removeJobTag(tag)
    t1 = time.perf_counter()
    stores.bus.waitUntilEmpty()
    record.update(_read(stores, tag, marks), wall_s=round(t1 - t0, 3))
    record["observe_s"] = round(time.perf_counter() - t1, 3)


def _read(stores: _Stores, tag: str, marks: dict) -> dict:
    jobs, stage_ids = set(), set()
    for job_id, w in stores.newer("jobs", marks["jobs"]):
        if w.info().jobTags().contains(tag):
            jobs.add(job_id)
            stage_ids |= _ints(w.info().stageIds())
    executions = [
        eid for eid, e in stores.newer("executions", marks["executions"])
        if jobs & _ints(e.jobs().keys())
    ]
    rec = {
        "jobs": sorted(jobs),
        "executions": sorted(executions),
        **_stage_totals(stores, sorted(stage_ids)),
        **_plan_totals(stores, executions),
    }
    return {k: round(v, 3) if isinstance(v, float) else v for k, v in rec.items()}


def _stage_totals(stores: _Stores, stage_ids: list[int]) -> dict:
    tot = dict.fromkeys(
        ("task_run_s", "task_cpu_s", "shuffle_read_mb", "shuffle_write_mb",
         "spill_mb"),
        0.0,
    )
    longest, longest_ms = None, -1
    for s in stage_ids:
        try:
            d = stores.core.lastStageAttempt(s)
        except Py4JJavaError:  # never attempted
            continue
        if d.status().toString() == "SKIPPED":  # ran under another id
            continue
        run_ms = d.executorRunTime()
        tot["task_run_s"] += run_ms / 1e3
        tot["task_cpu_s"] += d.executorCpuTime() / 1e9
        tot["shuffle_read_mb"] += d.shuffleReadBytes() / 2**20
        tot["shuffle_write_mb"] += d.shuffleWriteBytes() / 2**20
        tot["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / 2**20
        if run_ms > longest_ms:
            longest, longest_ms = (s, d.attemptId()), run_ms
    tot["skew"] = None
    if longest:
        q = stores.gateway.new_array(stores.gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = stores.core.taskSummary(*longest, q)
        run = dist.get().executorRunTime() if dist.isDefined() else None
        if run is not None and run.apply(0) > 0:
            tot["skew"] = round(run.apply(1) / run.apply(0), 2)
    return tot


def _plan_totals(stores: _Stores, executions: list[int]) -> dict:
    tot = dict.fromkeys(_PLAN_METRICS.values(), 0.0)
    tot["exchanges"] = 0
    for eid in executions:
        try:
            graph = stores.sql.planGraph(eid)
            values = stores.sql.executionMetrics(eid)
        except Py4JJavaError:  # dropped from the store
            continue
        nodes = graph.allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            name = node.name()
            if name.startswith("Exchange"):
                tot["exchanges"] += 1
            if not name.startswith((_WRITE, "MapInPandas", "Scan")):
                continue
            it = node.metrics().iterator()
            while it.hasNext():
                metric = it.next()
                field = _PLAN_METRICS.get(metric.name())
                if field == "rows_written" and not name.startswith(_WRITE):
                    continue
                v = values.get(metric.accumulatorId()) if field else None
                if v is not None and v.isDefined():
                    tot[field] += _metric_value(v.get())
    for field in ("rows_written", "files_written"):
        tot[field] = int(tot[field])
    return tot
