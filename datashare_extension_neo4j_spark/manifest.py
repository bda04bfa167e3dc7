"""Checkpoint manifest + idempotent resume (X5; BASELINE.json north
rule: "resumable from checkpoint with per-partition lineage +
metrics").

Each pipeline stage materializes to a parquet path and records a
manifest entry: input fingerprint (a snapshot pin — Iceberg
snapshot-id when available, else path + mtime), per-partition output
lineage (file, rows, bytes — from the parquet footers), row counters,
and the stage's Spark metrics (``observe.py``). The manifest is written
atomically (tmp + rename). On restart, a stage whose entry matches its
input fingerprint and whose output files still exist is skipped —
mirroring the reference's idempotent md5-keyed task identity
(core/objects.py:118-144) done properly for a DAG.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

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
    try:
        import pyarrow.parquet as pq
    except Exception:
        return []
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
        self.state.setdefault("increments", []).append(
            {**records, "completed_at": time.time()}
        )
        self._flush()


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    run_dir: str,
    use_rule_ner: bool = True,
    project: str = "test_project",
    force: bool = False,
    buckets: int | None = None,
) -> dict:
    """Resumable end-to-end run: pages parquet → parsed → graph tables.

    The materializing runner over ``pipeline.STAGES``: every stage is
    a manifest-guarded parquet write whose inputs are its upstream
    stages' outputs, so a restart after a crash re-runs only
    incomplete/stale stages (and builds no frame for a skipped one).
    Returns {table: path}.

    The five graph tables are written hash-partitioned on their merge
    key into ``buckets`` buckets (the session's shuffle partition count
    when None) so later incremental imports rewrite only touched
    partitions (sinks/tables.py module docstring); the other stage
    outputs are plain parquet. The manifest records the requested
    ``buckets``; the tables' sidecars hold the N merges use."""
    from .pipeline import PARSE_LAYOUT, STAGES, BuildOptions
    from .sinks.tables import TABLE_KEYS, read_table, write_bucketed_table

    # captured BEFORE Manifest creates the dir: a pre-existing manifest
    # means prior-run tables may be present (migration ladder must run
    # for real against them — see apply_migrations call below)
    fresh_run_dir = not (Path(run_dir) / "manifest.json").exists()
    m = Manifest(run_dir)
    o = BuildOptions(project=project, use_rule_ner=use_rule_ner, include_text=False)
    paths = {"pages": pages_path}

    def load(name: str) -> DataFrame:
        if name == "pages":
            return spark.read.parquet(pages_path)
        return read_table(spark, paths[name])

    for st in STAGES:
        table = st.name in TABLE_KEYS
        config = {"buckets": buckets} if table else None
        if st.name == "parse":
            config = {"layout": PARSE_LAYOUT}

        def materialize(path: str, st=st, table=table) -> None:
            df = st.fn(o, *(load(i) for i in st.inputs))
            if table:
                write_bucketed_table(df, path, st.name, buckets)
            else:
                df.write.mode("overwrite").parquet(path)

        paths[st.name] = m.run_stage(
            st.name,
            [paths[i] for i in st.inputs],
            str(Path(run_dir) / ("parsed" if st.name == "parse" else st.name)),
            materialize,
            force=force,
            config=config,
        )
    # constraint/index manifest + migration ladder (reference runs its
    # migrations at startup). assume_current is ONLY valid for a run
    # dir this call created from scratch — an EXISTING dir may hold
    # tables built by older code whose pending data migrations must
    # actually execute, not be silently recorded as done.
    from .migrations import apply_migrations

    apply_migrations(spark, run_dir, assume_current=fresh_run_dir)
    return {Path(p).name: p for name, p in paths.items() if name != "pages"}
