"""Per-stage Spark metrics (observe.py): job-tag attribution under
concurrency, the records `cli build` leaves in its manifest, the
`increments` records of `cli incremental`, and the one place an
output's reported aggregates are observed on its write."""

import ast
import json
import threading
from pathlib import Path

import pytest

import datashare_extension_neo4j_spark as pkg
from datashare_extension_neo4j_spark.cli import main
from datashare_extension_neo4j_spark.fixtures import reference_pages
from datashare_extension_neo4j_spark.manifest import Manifest
from datashare_extension_neo4j_spark.observe import observe
from datashare_extension_neo4j_spark.sinks.tables import TABLE_KEYS


def _jobs_after(spark, mark):
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return {j for j in ids if j > mark}


def test_concurrent_stages_get_disjoint_records(spark, last_sql_execution):
    """Two threads run a stage inside observe at the same time: each
    record holds only its own jobs and executions, the two are disjoint
    and together cover every job and execution of the window, and the
    tagged jobs are still listed by getJobIdsForGroup(None)."""
    job_mark = max(_jobs_after(spark, -1), default=-1)
    exec_mark = last_sql_execution()
    start = threading.Barrier(2)
    records, errors = {}, []

    def stage(name, n):
        try:
            start.wait()
            with observe() as records[name]:
                for i in range(n):
                    spark.range(20_000 * (i + 1)).selectExpr(
                        "id % 11 as k"
                    ).groupBy("k").count().collect()
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [
        threading.Thread(target=stage, args=(name, n))
        for name, n in (("a", 3), ("b", 4))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    a, b = records["a"], records["b"]
    all_jobs = _jobs_after(spark, job_mark)
    all_execs = set(range(exec_mark + 1, last_sql_execution() + 1))
    assert set(a["jobs"]).isdisjoint(b["jobs"])
    assert set(a["jobs"]) | set(b["jobs"]) == all_jobs
    assert set(a["executions"]).isdisjoint(b["executions"])
    assert set(a["executions"]) | set(b["executions"]) == all_execs
    # one execution per collect, each with its shuffle
    assert (len(a["executions"]), len(b["executions"])) == (3, 4)
    assert (a["exchanges"], b["exchanges"]) == (3, 4)
    assert a["task_run_s"] > 0 and b["shuffle_write_mb"] > 0
    assert not set(spark.sparkContext.getJobTags())


def test_failed_stage_records_nothing_and_restores_tags(spark, tmp_path):
    """A stage whose function raises leaves no manifest entry, and the
    thread's job tags are what they were before the stage."""
    sc = spark.sparkContext
    sc.addJobTag("caller-tag")
    try:
        m = Manifest(str(tmp_path / "run"))

        def boom(path):
            spark.range(10).count()
            raise RuntimeError("stage failed")

        with pytest.raises(RuntimeError, match="stage failed"):
            m.run_stage("boom", [], str(tmp_path / "run" / "boom"), boom)
        assert set(sc.getJobTags()) == {"caller-tag"}
        assert "boom" not in m.state["stages"]
        assert "boom" not in Manifest(str(tmp_path / "run")).state["stages"]
    finally:
        sc.removeJobTag("caller-tag")


def test_cli_build_records_metrics_per_stage(spark, tmp_path, capsys):
    pages_path = str(tmp_path / "pages")
    reference_pages(spark, n_docs=8).write.parquet(pages_path)
    run_dir = tmp_path / "run"
    args = ["build", "--pages", pages_path, "--run-dir", str(run_dir),
            "--buckets", "2"]
    assert main(args) == 0
    first = json.loads((run_dir / "manifest.json").read_text())["stages"]
    assert set(first) == {"parse", *TABLE_KEYS}
    # the stored parse keeps only what a later stage reads
    parsed = spark.read.parquet(str(run_dir / "parsed")).columns
    assert not {"text", "ann_mentions"} & set(parsed)
    for name, e in first.items():
        m = e["metrics"]
        assert m["jobs"] and m["executions"], name
        assert m["wall_s"] > 0 and m["task_run_s"] > 0, name
        assert m["files_written"] > 0, name
    for name in TABLE_KEYS:
        assert first[name]["metrics"]["rows_written"] == first[name]["rows_out"]
    # the parse kernel's Arrow transfer is attributed to the parse stage
    assert first["parse"]["metrics"]["python_sent_mb"] > 0
    # the table writes shuffle into their buckets
    assert first["docs"]["metrics"]["exchanges"] >= 1

    # a re-run skips every stage and leaves their records untouched
    assert main(args) == 0
    capsys.readouterr()
    again = json.loads((run_dir / "manifest.json").read_text())["stages"]
    assert json.dumps(again, sort_keys=True) == json.dumps(first, sort_keys=True)


def test_cli_incremental_counters_and_increment_records(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    pages_all = reference_pages(spark, n_docs=12)
    first, all_path = str(tmp_path / "first"), str(tmp_path / "all")
    pages_all.where(
        F.regexp_extract("url", r"example-(\d+)", 1).cast("int") < 8
    ).write.parquet(first)
    pages_all.write.parquet(all_path)
    run_dir = tmp_path / "run"
    assert main(["build", "--pages", first, "--run-dir", str(run_dir),
                 "--buckets", "2"]) == 0

    def rows(name):
        return spark.read.parquet(str(run_dir / name)).count()

    before = {name: rows(name) for name in TABLE_KEYS}
    capsys.readouterr()
    assert main(["incremental", "--pages", all_path,
                 "--run-dir", str(run_dir)]) == 0
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    grew = {name: rows(name) - before[name] for name in TABLE_KEYS}
    # the printed counters are the counters alone, no metrics
    assert printed == {
        "imported": 12,
        "nodes_created": grew["docs"],
        "relationships_created": grew["doc_roots"] + grew["appears_in"]
        + grew["emails"],
        "entities_created": grew["entities"],
    }
    assert printed["nodes_created"] == 4

    manifest = json.loads((run_dir / "manifest.json").read_text())
    (inc,) = manifest["increments"]
    assert set(inc["tables"]) == set(TABLE_KEYS)
    for name, m in inc["tables"].items():
        assert m["jobs"] and m["executions"], name
    assert inc["tables"]["docs"]["rows_written"] >= 12
    parse = inc["parse"]
    assert parse["python_sent_mb"] > 0 and parse["rows_written"] == 12
    # every record holds its own jobs only
    jobs = [j for m in [parse, *inc["tables"].values()] for j in m["jobs"]]
    assert len(jobs) == len(set(jobs))


def test_observe_counts_materialize_graph_writer_threads(spark, tmp_path):
    """materialize_graph writes its five tables from a thread pool; the
    writer threads inherit the caller's job tag, so the enclosing record
    counts every table's rows."""
    from datashare_extension_neo4j_spark.pipeline import build_graph
    from datashare_extension_neo4j_spark.sinks.tables import materialize_graph

    g = build_graph(reference_pages(spark, n_docs=6), use_rule_ner=True)
    with observe() as rec:
        paths = materialize_graph(g, str(tmp_path / "out"), buckets=2)
    rows = sum(spark.read.parquet(p).count() for p in paths.values())
    assert rec["rows_written"] == rows > 0
    assert rec["files_written"] >= len(paths)


def test_writes_are_observed_in_one_module():
    """Every output's summary is taken on its write: only observe.py
    builds an ``Observation``, the CSV export streams nothing through
    the driver, and no CLI command reads its ``--out`` back to count
    it."""
    root = Path(pkg.__file__).parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name == "Observation" and rel != "observe.py":
                offenders.append((rel, node.lineno, name))
            if name == "toLocalIterator" and rel == "sinks/neo4j_csv.py":
                offenders.append((rel, node.lineno, name))
            if (
                rel == "cli.py"
                and name == "parquet"
                and "read" in ast.unparse(f.value)
                and any(ast.unparse(a) == "args.out" for a in node.args)
            ):
                offenders.append((rel, node.lineno, ast.unparse(node)))
    assert offenders == []
