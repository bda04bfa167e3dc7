"""Dump writers (GraphML structure per reference
tests/core/neo4j/test_graphs.py:59-155), stats singleton, manifest
resume, and incremental MERGE semantics."""

import io
import json
import xml.etree.ElementTree as ET

import pytest

from datashare_extension_neo4j_spark.cli import main
from datashare_extension_neo4j_spark.fixtures import reference_pages
from datashare_extension_neo4j_spark.graph import to_property_graph
from datashare_extension_neo4j_spark.manifest import Manifest, run_pipeline
from datashare_extension_neo4j_spark.pipeline import PARSE_LAYOUT, build_graph
from datashare_extension_neo4j_spark.plans.dump import dump_cypher, dump_graphml
from datashare_extension_neo4j_spark.plans.dsl import GraphTables, compile_dump_query
from datashare_extension_neo4j_spark.stats import (
    compute_statistics,
    read_statistics,
    write_statistics,
)

NS = {"": "http://graphml.graphdrawing.org/xmlns"}
NODES_DDL = "node_id string, labels array<string>, props map<string,string>"
EDGES_DDL = "src string, dst string, type string, props map<string,string>"


@pytest.fixture(scope="module")
def small_graph(spark):
    nodes = spark.createDataFrame(
        [
            ("doc-id", ["Document"], {"id": "doc-id"}),
            ("ne-id", ["NamedEntity", "Person"], {"mentionNorm": "Keanu Reeves"}),
        ],
        NODES_DDL,
    )
    edges = spark.createDataFrame(
        [("ne-id", "doc-id", "APPEARS_IN", None)],
        EDGES_DDL,
    )
    return GraphTables(nodes=nodes, edges=edges)


def test_graphml_structure(small_graph):
    buf = io.StringIO()
    dump_graphml(small_graph.nodes.collect(), small_graph.edges.collect(), buf)
    root = ET.fromstring(buf.getvalue())
    keys = root.findall("key", namespaces=NS)
    key_ids = {(k.get("id"), k.get("for")) for k in keys}
    # mirrors the reference golden key set (test_graphs.py:74-86)
    assert ("mentionNorm", "node") in key_ids
    assert ("id", "node") in key_ids
    assert ("labels", "node") in key_ids
    assert ("label", "edge") in key_ids
    nodes = root.findall("graph/node", namespaces=NS)
    assert len(nodes) == 2
    edges = root.findall("graph/edge", namespaces=NS)
    assert len(edges) == 1
    names = root.findall("graph//data[@key='mentionNorm']", namespaces=NS)
    assert names[0].text == "Keanu Reeves"


def test_graphml_evaluates_each_side_once(small_graph, last_sql_execution):
    """One SQL execution per side, and none in the writer: the key
    declarations come from the same pass over each side's rows that
    writes the elements (one-shot iterators would come out empty on a
    second pass)."""
    nodes, edges = compile_dump_query(small_graph, None)
    buf = io.StringIO()
    before = last_sql_execution()
    node_rows, edge_rows = nodes.collect(), edges.collect()
    assert last_sql_execution() - before == 2
    assert dump_graphml(iter(node_rows), iter(edge_rows), buf) == 3
    assert last_sql_execution() - before == 2
    assert ("mentionNorm", "node") in _graphml_keys(ET.fromstring(buf.getvalue()))


def _graphml_keys(root) -> set[tuple[str, str]]:
    return {(k.get("id"), k.get("for")) for k in root.findall("key", namespaces=NS)}


FIXED_KEYS = {("TYPE", "node"), ("labels", "node"), ("label", "edge"), ("TYPE", "edge")}


def test_graphml_dump_of_no_document(small_graph):
    """A query matching no document gives an empty local id frame and
    a well-formed GraphML with only the fixed keys."""
    q = {"matches": [{"path": {"nodes": [
        {"name": "doc", "labels": ["Document"], "properties": {"id": "nope"}}
    ]}}]}
    nodes, edges = compile_dump_query(small_graph, {"queries": [q]})
    buf = io.StringIO()
    assert dump_graphml(nodes.collect(), edges.collect(), buf) == 0
    root = ET.fromstring(buf.getvalue())
    assert _graphml_keys(root) == FIXED_KEYS
    assert root.findall("graph/*", namespaces=NS) == []


def test_graphml_keys_of_null_props(spark):
    """A null-valued key is declared but writes no <data>; a null
    props map declares nothing."""
    nodes = spark.createDataFrame(
        [("a", ["Document"], {"id": "a", "gone": None}), ("b", ["Document"], None)],
        NODES_DDL,
    )
    edges = spark.createDataFrame(
        [("a", "b", "HAS_PARENT", {"w": None}), ("b", "a", "HAS_PARENT", None)],
        EDGES_DDL,
    )
    buf = io.StringIO()
    assert dump_graphml(nodes.collect(), edges.collect(), buf) == 4
    root = ET.fromstring(buf.getvalue())
    assert _graphml_keys(root) == FIXED_KEYS | {
        ("id", "node"), ("gone", "node"), ("w", "edge")
    }
    assert root.findall("graph//data[@key='gone']", namespaces=NS) == []
    assert root.findall("graph//data[@key='w']", namespaces=NS) == []
    b = root.find("graph/node[@id='b']", namespaces=NS)
    assert [d.get("key") for d in b] == ["labels"]


def test_graphml_body_spilled_to_disk(spark, monkeypatch):
    """A body past the spool size goes through a temporary file and
    comes out the same."""
    from datashare_extension_neo4j_spark.plans import dump

    nodes = spark.createDataFrame(
        [(f"n{i}", ["Document"], {"title": f"Zoë {i}"}) for i in range(20)],
        NODES_DDL,
    )
    edges = spark.createDataFrame(
        [("n0", "n1", "HAS_PARENT", None)],
        EDGES_DDL,
    )
    rows = nodes.collect(), edges.collect()
    in_memory = io.StringIO()
    dump_graphml(*rows, in_memory)
    monkeypatch.setattr(dump, "_SPOOL_MAX", 64)
    spilled = io.StringIO()
    assert dump_graphml(*rows, spilled) == 21
    assert spilled.getvalue() == in_memory.getvalue()


@pytest.fixture(scope="module")
def built_store(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("dump_store")
    reference_pages(spark, n_docs=6).write.parquet(str(tmp / "pages"))
    run_dir = str(tmp / "run")
    assert main(["build", "--pages", str(tmp / "pages"), "--run-dir", run_dir,
                 "--buckets", "2"]) == 0
    return run_dir


def test_cli_dump_runs_query_once(built_store, tmp_path, capsys, last_sql_execution):
    """The dump's DSL query runs once (the doc-id job), then each side
    once: at most three SQL executions for the whole command."""
    out = str(tmp_path / "all.graphml")
    before = last_sql_execution()
    assert main(["dump", "--run-dir", built_store, "--output", out]) == 0
    assert last_sql_execution() - before <= 3
    got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    root = ET.parse(out).getroot()
    docs = [
        n for n in root.findall("graph/node", namespaces=NS)
        if n.get("labels") == ":Document"
    ]
    assert len(docs) == 6
    assert got["elements"] == len(root.findall("graph/*", namespaces=NS))


def test_cli_dump_limit_one(spark, built_store, tmp_path):
    """--limit 1 dumps the first document by path and exactly the
    entities attached to it."""
    from datashare_extension_neo4j_spark.plans.dsl import DUMP_EDGE_TYPES
    from datashare_extension_neo4j_spark.sinks.tables import load_store

    out = str(tmp_path / "one.graphml")
    assert main(["dump", "--run-dir", built_store, "--output", out,
                 "--limit", "1"]) == 0
    root = ET.parse(out).getroot()
    nodes = root.findall("graph/node", namespaces=NS)
    docs = [n.get("id") for n in nodes if n.get("labels") == ":Document"]
    g = to_property_graph(load_store(spark, built_store))
    first = (
        g.nodes.where("array_contains(labels, 'Document')")
        .orderBy(g.nodes.props["path"]).first()["node_id"]
    )
    assert docs == [first]
    e = g.edges
    attached = {
        r["src"] if r["dst"] == first else r["dst"]
        for r in e.where(e.type.isin(*DUMP_EDGE_TYPES))
        .where((e.src == first) | (e.dst == first)).collect()
    }
    assert attached
    assert {n.get("id") for n in nodes} == {first} | attached


def test_cypher_dump(small_graph):
    buf = io.StringIO()
    n = dump_cypher(small_graph.nodes.collect(), small_graph.edges.collect(), buf)
    text = buf.getvalue()
    assert n == 3
    assert "CREATE (:`Document` {`_id`: 'doc-id', `id`: 'doc-id'});" in text
    assert (
        "CREATE (:`NamedEntity`:`Person`"
        " {`_id`: 'ne-id', `mentionNorm`: 'Keanu Reeves'});" in text
    )
    assert "CREATE (a)-[:`APPEARS_IN`]->(b);" in text
    assert text.count(":begin") == 2  # node batch + edge batch


def test_property_graph_and_stats(spark, tmp_path):
    g = build_graph(reference_pages(spark, n_docs=10))
    pg = to_property_graph(g)
    labels = {tuple(r["labels"]) for r in pg.nodes.collect()}
    assert ("Document",) in labels
    assert ("NamedEntity", "Person") in labels
    types = {r["type"] for r in pg.edges.collect()}
    assert types == {"HAS_PARENT", "APPEARS_IN", "SENT", "RECEIVED"}
    # EMAIL entity gets user/domain props
    email_nodes = [
        r for r in pg.nodes.collect() if "EMAIL" in r["labels"]
    ]
    assert email_nodes[0]["props"]["emailUser"] == "dev"
    assert email_nodes[0]["props"]["emailDomain"] == "icij.org"
    stats = compute_statistics(g)
    assert stats["nDocuments"] == 10
    assert stats["nEntities"]["EMAIL"] == 1
    write_statistics(spark, g, str(tmp_path / "stats"))
    again = read_statistics(spark, str(tmp_path / "stats"))
    assert again["nDocuments"] == 10
    assert again["nEntities"] == stats["nEntities"]


def test_manifest_resume(spark, tmp_path):
    pages_path = str(tmp_path / "pages")
    from datashare_extension_neo4j_spark.schemas import PAGES_SCHEMA
    from datashare_extension_neo4j_spark.fixtures import reference_pages_pandas

    spark.createDataFrame(
        reference_pages_pandas(n_docs=8), schema=PAGES_SCHEMA
    ).write.parquet(pages_path)
    run_dir = str(tmp_path / "run")
    out = run_pipeline(spark, pages_path, run_dir)
    docs1 = spark.read.parquet(out["docs"])
    assert docs1.count() == 8
    manifest = json.loads((tmp_path / "run" / "manifest.json").read_text())
    assert manifest["stages"]["parse"]["status"] == "complete"
    assert manifest["stages"]["appears_in"]["rows_out"] > 0
    assert manifest["stages"]["parse"]["partitions"]  # per-partition lineage
    # resume: stages skipped (wall time not re-paid) — verify via mtimes
    import os

    mtime_before = os.path.getmtime(
        next(iter((tmp_path / "run" / "docs").rglob("*.parquet")))
    )
    run_pipeline(spark, pages_path, run_dir)
    mtime_after = os.path.getmtime(
        next(iter((tmp_path / "run" / "docs").rglob("*.parquet")))
    )
    assert mtime_before == mtime_after  # not rewritten
    # force: rewritten
    run_pipeline(spark, pages_path, run_dir, force=True)
    mtime_forced = os.path.getmtime(
        next(iter((tmp_path / "run" / "docs").rglob("*.parquet")))
    )
    assert mtime_forced > mtime_after


def test_merge_appears_in(spark, tmp_path):
    from datashare_extension_neo4j_spark.sinks.tables import combine_appears_in

    g = build_graph(reference_pages(spark, n_docs=6))
    path = str(tmp_path / "appears")
    g.appears_in.write.parquet(path)
    before = {
        (r["startId"], r["endId"]): r["mentionIds"]
        for r in spark.read.parquet(path).collect()
    }
    # re-merge the same edges: idempotent (set semantics)
    merged = combine_appears_in(spark.read.parquet(path), g.appears_in)
    after = {
        (r["startId"], r["endId"]): r["mentionIds"] for r in merged.collect()
    }
    assert before == after
    # merge new mention ids for an existing key: arrays union sorted
    import pyspark.sql.functions as F

    updated = g.appears_in.withColumn(
        "mentionIds", F.array(F.lit("zzz-new-mention"))
    )
    merged2 = combine_appears_in(spark.read.parquet(path), updated)
    row = merged2.where(F.col("mentionCount") >= 2).collect()[0]
    assert "zzz-new-mention" in row["mentionIds"]
    assert row["mentionIds"] == sorted(row["mentionIds"])


def test_manifest_stale_input_reruns(spark, tmp_path):
    """Changing the input invalidates the fingerprint → stage re-runs."""
    import os

    from datashare_extension_neo4j_spark.fixtures import reference_pages_pandas
    from datashare_extension_neo4j_spark.schemas import PAGES_SCHEMA

    pages_path = str(tmp_path / "pages")
    spark.createDataFrame(
        reference_pages_pandas(n_docs=4), schema=PAGES_SCHEMA
    ).write.mode("overwrite").parquet(pages_path)
    run_dir = str(tmp_path / "run")
    run_pipeline(spark, pages_path, run_dir)
    assert spark.read.parquet(f"{run_dir}/docs").count() == 4
    # grow the input: fingerprint changes, pipeline re-runs end to end
    spark.createDataFrame(
        reference_pages_pandas(n_docs=9), schema=PAGES_SCHEMA
    ).write.mode("overwrite").parquet(pages_path)
    run_pipeline(spark, pages_path, run_dir)
    assert spark.read.parquet(f"{run_dir}/docs").count() == 9
    m = Manifest(run_dir)
    config = {"layout": PARSE_LAYOUT, "use_rule_ner": True}
    assert m.is_complete("parse", [pages_path], config)


def _pages_parquet(spark, tmp_path, n_docs=8):
    from datashare_extension_neo4j_spark.fixtures import reference_pages_pandas
    from datashare_extension_neo4j_spark.schemas import PAGES_SCHEMA

    path = str(tmp_path / "pages")
    spark.createDataFrame(
        reference_pages_pandas(n_docs=n_docs), schema=PAGES_SCHEMA
    ).write.parquet(path)
    return path


def _stages(run_dir):
    return json.loads((run_dir / "manifest.json").read_text())["stages"]


def test_run_pipeline_runs_a_wave_concurrently(spark, tmp_path, monkeypatch):
    """Two stages of the wave after parse wait on one barrier: the
    build only gets past it when both run at the same time, and each
    stage's metrics record holds only its own jobs."""
    import threading

    from datashare_extension_neo4j_spark import pipeline

    both = threading.Barrier(2, timeout=30)
    for name in ("appears_in_from_parsed", "email_edges_from_parsed"):

        def waiting(parsed, fn=getattr(pipeline, name)):
            both.wait()
            return fn(parsed)

        monkeypatch.setattr(pipeline, name, waiting)
    run_dir = tmp_path / "run"
    run_pipeline(spark, _pages_parquet(spark, tmp_path), str(run_dir))
    stages = _stages(run_dir)
    assert set(stages) == {s.name for s in pipeline.STAGES}
    jobs = {name: set(e["metrics"]["jobs"]) for name, e in stages.items()}
    assert jobs["appears_in"] and jobs["emails"]
    names = sorted(jobs)
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            assert jobs[a].isdisjoint(jobs[b]), (a, b)


def test_run_pipeline_failed_stage_resumes_alone(spark, tmp_path, monkeypatch):
    """A stage that raises fails the build after the rest of its wave
    is recorded, and no later wave runs. The re-run runs only the
    failed stage and the one after it, leaves the other entries as they
    were, and ends with the tables of a clean build."""
    from datashare_extension_neo4j_spark import pipeline

    pages_path = _pages_parquet(spark, tmp_path)
    run_dir = tmp_path / "run"

    def boom(parsed):
        raise RuntimeError("injected stage fault")

    monkeypatch.setattr(pipeline, "email_edges_from_parsed", boom)
    with pytest.raises(RuntimeError, match="injected stage fault"):
        run_pipeline(spark, pages_path, str(run_dir))
    first = _stages(run_dir)
    assert set(first) == {"parse", "docs", "appears_in", "entities"}
    assert all(e["status"] == "complete" for e in first.values())

    monkeypatch.undo()
    run_pipeline(spark, pages_path, str(run_dir))
    second = _stages(run_dir)
    assert set(second) == set(first) | {"emails", "doc_roots"}
    for name, entry in first.items():
        assert json.dumps(second[name], sort_keys=True) == json.dumps(
            entry, sort_keys=True
        ), name

    clean = tmp_path / "clean"
    run_pipeline(spark, pages_path, str(clean))
    assert _store_rows(spark, run_dir) == _store_rows(spark, clean)


def _build(pages_path, run_dir, *options):
    return main(["build", "--pages", pages_path, "--run-dir", str(run_dir),
                 "--buckets", "2", *options])


def _completed(run_dir):
    return {name: e["completed_at"] for name, e in _stages(run_dir).items()}


def _store_rows(spark, run_dir):
    from datashare_extension_neo4j_spark.sinks.tables import TABLE_KEYS, read_table

    out = {}
    for name in TABLE_KEYS:
        df = read_table(spark, str(run_dir / name))
        out[name] = sorted(map(str, df.select(*sorted(df.columns)).collect()))
    return out


def test_cli_build_no_ner_is_part_of_the_parse_config(spark, tmp_path, capsys):
    """A build with rule NER over a --no-ner run dir re-runs parse and
    every stage after it, and stores the tables of a fresh NER build."""
    pages_path = _pages_parquet(spark, tmp_path)
    run_dir = tmp_path / "run"
    assert _build(pages_path, run_dir, "--no-ner") == 0
    before = _completed(run_dir)
    no_ner = _store_rows(spark, run_dir)
    assert _build(pages_path, run_dir) == 0
    after = _completed(run_dir)
    assert all(after[name] > before[name] for name in before)
    assert _build(pages_path, tmp_path / "fresh") == 0
    capsys.readouterr()
    rows = _store_rows(spark, run_dir)
    assert rows == _store_rows(spark, tmp_path / "fresh")
    assert len(rows["appears_in"]) > len(no_ner["appears_in"])  # NER hits


def test_cli_build_project_is_part_of_the_docs_config(spark, tmp_path, capsys):
    """--project B over a --project A run dir re-runs docs and
    doc_roots only, and the stored urlSuffix carries B."""
    from datashare_extension_neo4j_spark.sinks.tables import read_table

    pages_path = _pages_parquet(spark, tmp_path)
    run_dir = tmp_path / "run"
    assert _build(pages_path, run_dir, "--project", "A") == 0
    before = _completed(run_dir)
    assert _build(pages_path, run_dir, "--project", "B") == 0
    capsys.readouterr()
    after = _completed(run_dir)
    assert {name for name in before if after[name] != before[name]} == {
        "docs", "doc_roots",
    }
    suffixes = [r["urlSuffix"] for r in read_table(spark, str(run_dir / "docs")).collect()]
    assert suffixes and all(s.startswith("ds/B/") for s in suffixes)
