"""Checkpoint manifest + idempotent resume (X5; BASELINE.json north
rule: "resumable from checkpoint with per-partition lineage +
metrics").

Each stage materializes to a parquet path and records a manifest
entry: input fingerprint (a snapshot pin — Iceberg snapshot-id when
available, else path + mtime), per-partition output lineage (file,
rows, bytes — from the parquet footers), row counters, and the
stage's Spark metrics (``observe.py``). The manifest is written
atomically (tmp + rename). On restart, a stage whose entry matches its
input fingerprint and its config (write layout and the build options
it depends on) and whose output files still exist is skipped —
mirroring the reference's idempotent md5-keyed task identity
(core/objects.py:118-144) done properly for a DAG.

``run_stages`` runs each such DAG (``cli build``, ``weblinks``,
``relations``) wave by wave, a wave's stages concurrently, as the
reference runs concurrent import tasks (core/imports.py:147-316).
``run_pipeline`` (``cli build``) migrates the run dir before its
first wave.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections.abc import Callable
from functools import partial
from pathlib import Path

from pyspark.sql import SparkSession

from .observe import observe


def _input_fingerprint(path: str) -> dict:
    p = Path(path)
    if not p.exists():
        return {"path": path, "exists": False}
    if p.is_file():
        # single-file input (e.g. a bare documents.parquet): rglob
        # on a regular file yields nothing, which would make the
        # fingerprint a constant and staleness undetectable
        files = [str(p)]
    else:
        files = sorted(str(f) for f in p.rglob("*.parquet"))
    mtime = max((os.path.getmtime(f) for f in files), default=0)
    size = sum(os.path.getsize(f) for f in files)
    return {"path": path, "n_files": len(files), "bytes": size, "mtime": mtime}


def _output_lineage(path: str) -> list[dict]:
    """Per-partition (per-file) lineage from the written parquet."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(Path(path).rglob("*.parquet")):
        try:
            md = pq.ParquetFile(f).metadata
            out.append(
                {
                    "file": f.name,
                    "rows": md.num_rows,
                    "bytes": f.stat().st_size,
                    "row_groups": md.num_row_groups,
                }
            )
        except Exception:
            out.append({"file": f.name, "bytes": f.stat().st_size})
    return out


class Manifest:
    def __init__(self, run_dir: str):
        self.run_dir = Path(run_dir)
        self.run_dir.mkdir(parents=True, exist_ok=True)
        self.path = self.run_dir / "manifest.json"
        self.state: dict = {"stages": {}}
        if self.path.exists():
            self.state = json.loads(self.path.read_text())
        # stages of one wave finish concurrently: every state change
        # and its flush happen under this lock
        self._lock = threading.Lock()

    def _flush(self) -> None:
        tmp = self.path.with_suffix(".tmp")
        tmp.write_text(json.dumps(self.state, indent=2, sort_keys=True))
        tmp.replace(self.path)  # atomic on POSIX

    def is_complete(
        self, stage: str, inputs: list[str], config: dict | None = None
    ) -> bool:
        e = self.state["stages"].get(stage)
        if not e or e.get("status") != "complete":
            return False
        if not Path(e["output"]).exists():
            return False
        if e.get("config", {}) != (config or {}):
            # write configuration changed (e.g. --buckets) — the old
            # output has the wrong layout even if inputs are identical
            return False
        fps = [_input_fingerprint(p) for p in inputs]
        return fps == e.get("input_fingerprints")

    def run_stage(
        self,
        stage: str,
        inputs: list[str],
        output: str,
        fn,
        force: bool = False,
        config: dict | None = None,
    ) -> str:
        """Run fn(output_path) unless the stage is already complete for
        identical inputs AND write config. Returns the output path. A
        stage whose fn raises records nothing."""
        if not force and self.is_complete(stage, inputs, config):
            return output
        with observe() as metrics:
            fn(output)
        lineage = _output_lineage(output)
        with self._lock:
            self.state["stages"][stage] = {
                "status": "complete",
                "output": output,
                "input_fingerprints": [_input_fingerprint(p) for p in inputs],
                "config": config or {},
                "partitions": lineage,
                "rows_out": sum(e.get("rows", 0) for e in lineage),
                "metrics": metrics,
                "completed_at": time.time(),
            }
            self._flush()
        return output

    def record_increment(self, **records: dict) -> None:
        """Append one increment's metrics records to ``increments``."""
        with self._lock:
            self.state.setdefault("increments", []).append(
                {**records, "completed_at": time.time()}
            )
            self._flush()


def run_concurrently(spark: SparkSession, units: dict[str, Callable]) -> dict:
    """Run every unit at once; returns name → result. Each unit gets
    its own ``inheritable_thread_target`` wrapper, a copy of the
    caller's local properties (units sharing one copy would share their
    SQL execution id). The first failure, in ``units`` order, is
    re-raised once every unit has finished."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(units)) as ex:
        futures = {
            name: ex.submit(inheritable_thread_target(spark)(fn))
            for name, fn in units.items()
        }
    return {name: f.result() for name, f in futures.items()}


def run_stages(
    spark: SparkSession,
    run_dir: str,
    stages,
    sources: dict[str, str],
    force: bool = False,
    configs: dict[str, dict] | None = None,
) -> dict[str, dict]:
    """Write a DAG of named parquet outputs under ``run_dir``; returns
    stage name → manifest entry. ``stages`` are ``pipeline.Stage(name,
    inputs, fn)`` in topological order; an input names an upstream
    stage or a ``sources`` path, and ``fn(*input frames)`` returns the
    stage's frame. A stage's wave is one past its deepest input's. A
    wave's stages run concurrently, each through ``Manifest.run_stage``
    under its ``configs`` entry. A failing stage raises once the rest
    of its wave is recorded, before the next wave, so a re-run resumes
    it and its dependents. ``TABLE_KEYS`` outputs are created bucketed
    into their config's ``buckets``, the others as plain parquet."""
    from .sinks.tables import TABLE_KEYS, create_table, read_table

    configs = configs or {}
    paths = dict(sources)
    wave_of = dict.fromkeys(sources, 0)
    waves: dict[int, list] = {}
    for st in stages:
        # existing run dirs hold the parse output under ``parsed``
        out = "parsed" if st.name == "parse" else st.name
        paths[st.name] = str(Path(run_dir) / out)
        wave_of[st.name] = 1 + max((wave_of[i] for i in st.inputs), default=0)
        waves.setdefault(wave_of[st.name], []).append(st)
    m = Manifest(run_dir)

    def run(st) -> str:
        config = configs.get(st.name) or {}

        def write(path: str) -> None:
            df = st.fn(*(read_table(spark, paths[i]) for i in st.inputs))
            if st.name in TABLE_KEYS:
                create_table(df, path, st.name, config.get("buckets"))
            else:
                df.write.mode("overwrite").parquet(path)

        return m.run_stage(
            st.name, [paths[i] for i in st.inputs], paths[st.name], write,
            force=force, config=config,
        )

    for k in sorted(waves):
        run_concurrently(spark, {st.name: partial(run, st) for st in waves[k]})
    return {st.name: m.state["stages"][st.name] for st in stages}


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    run_dir: str,
    use_rule_ner: bool = True,
    project: str = "test_project",
    force: bool = False,
    buckets: int | None = None,
) -> dict:
    """Resumable end-to-end run: pages parquet → parsed → graph tables,
    ``pipeline.STAGES`` through ``run_stages``. Returns {output dir
    name: path}.

    The migration ladder runs first (the reference runs its migrations
    at startup): in a new run dir every data migration finds no table
    and the ladder is only recorded; an older store is brought to the
    current schema before any stage reads it. Each build option sits
    in the config of the stage it changes (``use_rule_ner`` with the
    parse layout, ``project`` with docs' ``buckets``), so changing one
    re-runs that stage and its dependents.

    The five graph tables are written hash-partitioned on their merge
    key into ``buckets`` buckets (the session's shuffle partition count
    when None) so later incremental imports rewrite only touched
    partitions (sinks/tables.py module docstring); the other stage
    outputs are plain parquet. The manifest records the requested
    ``buckets``; the tables' sidecars hold the N merges use."""
    from .migrations import apply_migrations
    from .pipeline import PARSE_LAYOUT, STAGES, BuildOptions, Stage
    from .sinks.tables import TABLE_KEYS

    Path(run_dir).mkdir(parents=True, exist_ok=True)
    apply_migrations(spark, run_dir)
    o = BuildOptions(project=project, use_rule_ner=use_rule_ner)
    configs = {name: {"buckets": buckets} for name in TABLE_KEYS}
    configs["parse"] = {"layout": PARSE_LAYOUT, "use_rule_ner": use_rule_ner}
    configs["docs"]["project"] = project
    done = run_stages(
        spark, run_dir,
        [Stage(st.name, st.inputs, partial(st.fn, o)) for st in STAGES],
        {"pages": pages_path}, force=force, configs=configs,
    )
    return {Path(e["output"]).name: e["output"] for e in done.values()}
