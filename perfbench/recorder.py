"""Traced-run recorder: spans around the program's layers plus Spark's
own per-operation accounting.

Spans come from wrappers installed by the benchmark around module-level
functions of the package (nothing inside the package changes). Each
span records its parent, so self time is its duration minus its
children's. After every top-level operation the recorder reads Spark's
status stores, which work with the UI disabled:

* the SQL store (``sharedState().statusStore()``): plan nodes and their
  metrics per execution (MapInPandas Python time and bytes, Exchange
  count, scan and write sizes);
* the core store (``sc._jsc.sc().statusStore()``): per-stage executor
  run and CPU time, shuffle writes and spill.

Both stores are filled asynchronously by the listener bus, so every read
first waits until the bus is empty; the wait counts as recorder time.

A wrapped function that no longer exists (moved by a refactor) is
reported under ``missing`` and its metrics read 0; the run goes on.
"""

from __future__ import annotations

import functools
import importlib
import time

PKG = "datashare_extension_neo4j_spark"

# (module, attribute, span name); "Class.method" attributes are patched
# on the class. A "{stage}" span name takes the wrapped call's first
# positional argument after self.
WRAPPED = [
    ("manifest", "run_pipeline", "manifest.run_pipeline"),
    ("manifest", "Manifest.run_stage", "manifest.stage_{stage}"),
    ("manifest", "_output_lineage", "manifest.lineage"),
    ("migrations", "apply_migrations", "migrations.apply"),
    ("pipeline", "build_graph", "pipeline.build_graph"),
    ("sinks.tables", "incremental_import", "tables.incremental_import"),
    ("sinks.tables", "merge_table", "tables.merge_table"),
    ("sinks.tables", "merge_bucketed", "tables.merge_bucketed"),
    ("sinks.tables", "_created_count", "tables.created_count"),
    ("sinks.tables", "write_bucketed_table", "tables.write_bucketed"),
    ("sinks.neo4j_csv", "export_graph_csvs_distributed", "neo4j_csv.export"),
    ("sinks.neo4j_csv", "write_csv_distributed", "neo4j_csv.write"),
    ("plans.dsl", "compile_dump_query", "dsl.compile"),
    ("plans.dump", "dump_graphml", "dump.graphml"),
]

# plan nodes whose metrics are kept, by name prefix
_NODES = ("MapInPandas", "Exchange", "Scan", "Execute InsertIntoHadoopFsRelationCommand")
_UNITS = {
    "B": 2.0**-20, "KiB": 2.0**-10, "MiB": 1.0, "GiB": 2.0**10, "TiB": 2.0**20,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def metric_value(text: str) -> float:
    """A formatted SQL metric ("100,000", "8.5 s", or the per-task
    "total (min, med, max ...)\\n798.4 KiB (...)") as a number of rows,
    seconds or MiB."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    tok = text.split()
    num = float(tok[0].replace(",", ""))
    return num * _UNITS.get(tok[1], 1.0) if len(tok) > 1 else num


class Recorder:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._core = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.executions: dict[int, dict] = {}
        self.missing: list[str] = []
        self.wrapped: list[str] = []
        self.self_s = 0.0  # time spent inside the recorder itself
        self._stack: list[int] = []
        self._op: dict | None = None
        self._job_mark = -1
        self._exec_mark = 0

    # -- wrappers ------------------------------------------------------
    def install(self) -> None:
        for mod_name, attr, span in WRAPPED:
            try:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                owner, name = mod, attr
                if "." in attr:
                    cls, name = attr.split(".")
                    owner = getattr(mod, cls)
                fn = getattr(owner, name)
            except (ImportError, AttributeError):
                self.missing.append(f"{mod_name}.{attr}")
                continue
            setattr(owner, name, self._wrap(fn, span, method="." in attr))
            self.wrapped.append(f"{mod_name}.{attr}")

    def _wrap(self, fn, span: str, method: bool):
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if rec._op is None:
                return fn(*args, **kwargs)
            name = span
            if "{stage}" in span:
                name = span.format(stage=args[1] if method else args[0])
            i = rec._open(name)
            try:
                out = fn(*args, **kwargs)
                rec.spans[i]["result"] = _summary(out)
                rec.spans[i]["int_args"] = [
                    a for a in args if isinstance(a, int) and not isinstance(a, bool)
                ]
                return out
            finally:
                rec._close(i)

        return wrapper

    def _open(self, name: str) -> int:
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        t = time.perf_counter()
        self.spans.append(
            {
                "name": name,
                "op": len(self.ops),
                "parent": self._stack[-1] if self._stack else None,
                "start": t,
                "exec0": self._exec_count(),
            }
        )
        self._stack.append(len(self.spans) - 1)
        self.self_s += time.perf_counter() - t0
        return len(self.spans) - 1

    def _close(self, i: int) -> None:
        t = time.perf_counter()
        self.spans[i]["end"] = t
        self._stack.pop()
        self._bus.waitUntilEmpty()
        self.spans[i]["exec1"] = self._exec_count()
        self.self_s += time.perf_counter() - t

    # -- operations ----------------------------------------------------
    def begin(self, kind: str) -> None:
        # jobs and executions of untimed work (warm-up, set-up) since
        # the last operation are not this operation's
        t = time.perf_counter()
        self._bus.waitUntilEmpty()
        self._job_mark = self._max_job()
        self._exec_mark = self._exec_count()
        self.self_s += time.perf_counter() - t
        self._op = {"kind": kind, "start": time.perf_counter()}

    def end(self) -> dict:
        op = self._op
        op["end"] = time.perf_counter()
        self._op = None
        t = time.perf_counter()
        self._bus.waitUntilEmpty()
        op.update(self._stage_totals())
        op.update(self._sql_totals())
        self.ops.append(op)
        self.self_s += time.perf_counter() - t
        return op

    def _max_job(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _exec_count(self) -> int:
        return int(self._sql.executionsCount())

    def _stage_totals(self) -> dict:
        tracker = self.sc.statusTracker()
        jobs = [j for j in tracker.getJobIdsForGroup(None) if j > self._job_mark]
        self._job_mark = max(jobs, default=self._job_mark)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        run_ms = cpu_ns = shuffle = spill = 0
        for s in stages:
            try:
                d = self._core.lastStageAttempt(s)
            except Exception:  # stage never attempted (skipped)
                continue
            run_ms += d.executorRunTime()
            cpu_ns += d.executorCpuTime()
            shuffle += d.shuffleWriteBytes()
            spill += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return {
            "jobs": len(jobs),
            "task_run_s": run_ms / 1e3,
            "task_cpu_s": cpu_ns / 1e9,
            "shuffle_write_mb": shuffle / 2**20,
            "spill_mb": spill / 2**20,
        }

    def _sql_totals(self) -> dict:
        n = self._exec_count()
        tot = {"exchanges": 0, "scan_mb": 0.0, "files_written": 0, "rows_written": 0}
        for eid in range(self._exec_mark, n):
            e = self._execution(eid)
            self.executions[eid] = e
            for k in tot:
                tot[k] += e[k]
        tot["execs"] = list(range(self._exec_mark, n))
        self._exec_mark = n
        return tot

    def _execution(self, eid: int) -> dict:
        e = {
            "exchanges": 0, "round_robin": 0, "scan_mb": 0.0,
            "files_written": 0, "rows_written": 0,
            "python_run_s": 0.0, "python_sent_mb": 0.0,
            "python_returned_mb": 0.0, "python_rows_out": 0,
        }
        try:
            graph = self._sql.planGraph(eid)
            values = self._sql.executionMetrics(eid)
        except Exception:  # execution dropped from the store
            return e
        nodes = graph.allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            name = node.name()
            if not name.startswith(_NODES):
                continue
            if name.startswith("Exchange"):
                e["exchanges"] += 1
                e["round_robin"] += "RoundRobinPartitioning" in node.desc()
            metrics = {}
            it = node.metrics().iterator()
            while it.hasNext():
                m = it.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = metric_value(v.get())
            if name.startswith("Scan"):
                e["scan_mb"] += metrics.get("size of files read", 0.0)
            elif name.startswith("Execute"):
                e["files_written"] += int(metrics.get("number of written files", 0))
                e["rows_written"] += int(metrics.get("number of output rows", 0))
            elif name.startswith("MapInPandas"):
                e["python_run_s"] += metrics.get("time to run Python workers", 0.0)
                e["python_sent_mb"] += metrics.get("data sent to Python workers", 0.0)
                e["python_returned_mb"] += metrics.get(
                    "data returned from Python workers", 0.0
                )
                e["python_rows_out"] += int(metrics.get("number of output rows", 0))
        return e

    # -- summaries -----------------------------------------------------
    def span_self_s(self, i: int) -> float:
        s = self.spans[i]
        kids = sum(
            c["end"] - c["start"] for c in self.spans if c["parent"] == i
        )
        return (s["end"] - s["start"]) - kids

    def spans_named(self, prefix: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s["name"].startswith(prefix)]

    def span_total(self, prefix: str) -> float:
        return sum(
            self.spans[i]["end"] - self.spans[i]["start"]
            for i in self.spans_named(prefix)
        )

    def span_executions(self, i: int) -> list[dict]:
        s = self.spans[i]
        return [
            self.executions[e]
            for e in range(s["exec0"], s["exec1"])
            if e in self.executions
        ]

    def dump(self) -> dict:
        t0 = self.ops[0]["start"] if self.ops else 0.0
        return {
            "wrapped": self.wrapped,
            "missing": self.missing,
            "recorder_self_s": self.self_s,
            "ops": [
                {**o, "start": o["start"] - t0, "end": o["end"] - t0}
                for o in self.ops
            ],
            "spans": [
                {
                    **s,
                    "start": s["start"] - t0,
                    "end": s["end"] - t0,
                    "self_s": self.span_self_s(i),
                }
                for i, s in enumerate(self.spans)
            ],
        }


def _summary(out):
    """What a span keeps of its function's return value: lists and
    ints by size (touched buckets, element counts), nothing else."""
    if isinstance(out, bool):
        return None
    if isinstance(out, int):
        return out
    if isinstance(out, list):
        return len(out)
    return None
