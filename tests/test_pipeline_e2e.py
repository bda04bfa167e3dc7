"""End-to-end: reference-parity corpus (pages HTML) → graph → byte-golden
CSV export. Expectations from the reference's golden tables
(tests/core/test_imports.py:312-360,404-475,500-656; distilled in
FIXTURES.md §6)."""

import csv
import json
from pathlib import Path

import pytest

from datashare_extension_neo4j_spark.fixtures import reference_pages
from datashare_extension_neo4j_spark.functions.hashing import make_entity_id
from datashare_extension_neo4j_spark.operators.extract import parse_pages
from datashare_extension_neo4j_spark.operators.ner import annotated_mentions
from datashare_extension_neo4j_spark.pipeline import build_graph
from datashare_extension_neo4j_spark.sinks.neo4j_csv import export_graph_csvs

N_DOCS = 20


@pytest.fixture(scope="module")
def graph(spark):
    pages = reference_pages(spark, n_docs=N_DOCS, n_noise=5)
    return build_graph(pages, project="test_project")


def test_doc_nodes(graph):
    docs = {r["id"]: r.asDict() for r in graph.docs.collect()}
    # noise pages have no ds:id → their id is the url; the 20 real docs:
    real = {k: v for k, v in docs.items() if k.startswith("doc-")}
    assert len(real) == N_DOCS
    d0 = real["doc-0"]
    assert d0["rootDocument"] is None  # self-parent nulled
    assert d0["urlSuffix"] == "ds/test_project/doc-0/doc-0"
    assert d0["title"] == "dirname-0"
    assert d0["createdAt"] == "2022-04-08T11:41:34Z"
    assert d0["modifiedAt"] == "2022-04-08T11:41:34Z"
    d1 = real["doc-1"]
    assert d1["rootDocument"] == "doc-0"
    assert d1["urlSuffix"] == "ds/test_project/doc-1/doc-0"
    assert d1["contentLength"] == 1
    assert d1["extractionLevel"] == 1


def test_has_parent_edges(graph):
    edges = {(r["src"], r["dst"]) for r in graph.doc_roots.collect()}
    expected = {(f"doc-{i}", f"doc-{i - 1}") for i in range(1, N_DOCS)}
    assert edges == expected  # 19 edges, no self-loop for doc-0


def test_extracted_text_byte_identical(spark):
    # the per-row invariant: re-running extraction yields identical
    # bytes (the parse operator owns the text; the graph stores none)
    def text():
        pages = reference_pages(spark, n_docs=N_DOCS, n_noise=5)
        return {r["id"]: r["text"] for r in parse_pages(pages).collect()}

    t1 = text()
    assert t1 == text()
    assert all(isinstance(v, str) and v for v in t1.values())


def test_entity_nodes(graph):
    ents = {
        (r["mentionNorm"], r["category"]): r.asDict()
        for r in graph.entities.collect()
    }
    # mentions 0..19 → norms mention-0..mention-6; i%3==0 → Location
    # (i in {0,3,6,9,12,15,18} → norms 0..6), others Person (norms 0..6
    # minus those with no non-mod-3 member: norm k has members 3k,3k+1,3k+2)
    expected_keys = set()
    for i in range(N_DOCS):
        cat = "Location" if i % 3 == 0 else "Person"
        expected_keys.add((f"mention-{i // 3}", cat))
    expected_keys.add(("dev@icij.org", "EMAIL"))
    assert set(ents) == expected_keys
    e = ents[("mention-0", "Location")]
    assert e["entityId"] == make_entity_id("mention-0", "Location")
    assert e["label"] == "NamedEntity|Location"


def test_appears_in_golden_doc0(graph):
    rows = {
        (r["mentionNorm"], r["category"]): r.asDict()
        for r in graph.appears_in.where("endId = 'doc-0'").collect()
    }
    # reference golden (test_imports.py:341-359)
    loc = rows[("mention-0", "Location")]
    assert loc["mentionIds"] == ["named-entity-0"]
    assert loc["mentionExtractors"] == ["core-nlp"]
    assert loc["offsets"] == [0]
    assert loc["mentionCount"] == 1
    per = rows[("mention-0", "Person")]
    assert per["mentionIds"] == ["named-entity-1", "named-entity-2"]
    assert per["mentionExtractors"] == ["core-nlp", "spacy"]
    assert per["offsets"] == [0, 1, 2]
    assert per["mentionCount"] == 2
    assert per["startId"] == make_entity_id("mention-0", "Person")
    assert per["type"] == "APPEARS_IN"


def test_email_edges(graph):
    rows = {(r["type"]): r.asDict() for r in graph.emails.collect()}
    assert set(rows) == {"SENT", "RECEIVED"}
    sent = rows["SENT"]
    assert sent["fields"] == ["tika_metadata_message_from"]
    assert sent["startId"] == make_entity_id("dev@icij.org", "EMAIL")
    assert sent["endId"] == f"doc-{N_DOCS - 1}"
    recv = rows["RECEIVED"]
    assert recv["fields"] == ["tika_metadata_message_to"]


def test_csv_export_bytes(graph, tmp_path):
    export_graph_csvs(
        docs=graph.docs.where("id like 'doc-%'"),
        doc_roots=graph.doc_roots,
        entities=graph.entities,
        appears_in=graph.appears_in,
        emails=graph.emails,
        export_dir=tmp_path,
    )
    headers = (tmp_path / "docs-header.csv").read_text()
    assert headers == (
        "id:ID(Document),dirname,contentType,contentLength:LONG,"
        "extractionDate:DATETIME,extractionLevel:LONG,path,title,urlSuffix,"
        "createdAt:DATETIME,modifiedAt:DATETIME,:LABEL\n"
    )
    docs_lines = (tmp_path / "docs.csv").read_text().splitlines()
    assert (
        "doc-0,dirname-0,content-type-0,0,2023-02-06T13:48:22.3866,0,"
        "dirname-0,dirname-0,ds/test_project/doc-0/doc-0,"
        "2022-04-08T11:41:34Z,2022-04-08T11:41:34Z,Document"
    ) in docs_lines
    assert len(docs_lines) == N_DOCS
    # doc-roots
    assert (tmp_path / "doc-roots-header.csv").read_text() == (
        ":START_ID(Document),:END_ID(Document)\n"
    )
    root_lines = (tmp_path / "doc-roots.csv").read_text().splitlines()
    assert "doc-1,doc-0" in root_lines and len(root_lines) == N_DOCS - 1
    # entities
    ent_lines = (tmp_path / "entities.csv").read_text().splitlines()
    eid = make_entity_id("mention-0", "Location")
    assert f"{eid},mention-0,NamedEntity|Location" in ent_lines
    # entity-docs golden line for (mention-0, Person, doc-0)
    rel_lines = (tmp_path / "entity-docs.csv").read_text().splitlines()
    pid = make_entity_id("mention-0", "Person")
    assert (
        f"core-nlp|spacy,en,named-entity-1|named-entity-2,0|1|2,{pid},doc-0,APPEARS_IN"
    ) in rel_lines
    # email-docs
    email_lines = (tmp_path / "email-docs.csv").read_text().splitlines()
    sid = make_entity_id("dev@icij.org", "EMAIL")
    assert f"tika_metadata_message_from,{sid},doc-19,SENT" in email_lines
    assert f"tika_metadata_message_to,{sid},doc-19,RECEIVED" in email_lines
    # metadata.json + bulk-import.sh exist and agree on counts
    md = json.loads((tmp_path / "metadata.json").read_text())
    assert md["nodes"][0]["nNodes"] == N_DOCS
    assert md["relationships"][0]["nRelationships"] == N_DOCS - 1
    assert (tmp_path / "bulk-import.sh").exists()
    # files parse as CSV with the right field count
    with (tmp_path / "docs.csv").open() as f:
        for row in csv.reader(f):
            assert len(row) == 12


def test_noise_pages_do_not_leak(graph, spark):
    ids = [r["id"] for r in graph.docs.select("id").collect()]
    # noise pages parse (id = url) but carry no mentions/edges
    noise_ids = [i for i in ids if not i.startswith("doc-")]
    assert len(noise_ids) == 5
    pages = reference_pages(spark, n_docs=N_DOCS, n_noise=5)
    mentions = annotated_mentions(parse_pages(pages))
    assert mentions.where(~mentions.documentId.startswith("doc-")).count() == 0
    assert graph.appears_in.where(~graph.appears_in.endId.startswith("doc-")).count() == 0


def test_distributed_export_matches_single(graph, tmp_path):
    """The three layouts hold the same package: the multi-part
    package's parts, the single-file export's bodies and the tar's
    bodies carry the same line multiset per file, byte-identical
    headers and the same metadata counts; each metadata lists its
    bodies, and bulk-import.sh compiles a valid neo4j-admin command
    referencing every part."""
    import subprocess
    import tarfile
    from collections import Counter

    from datashare_extension_neo4j_spark.sinks.neo4j_csv import (
        export_graph_csvs_distributed,
    )

    single, tar, multi = tmp_path / "single", tmp_path / "tar", tmp_path / "multi"
    kw = dict(
        docs=graph.docs.where("id like 'doc-%'"),
        doc_roots=graph.doc_roots,
        entities=graph.entities,
        appears_in=graph.appears_in,
        emails=graph.emails,
    )
    metas = {
        "single": export_graph_csvs(export_dir=single, **kw),
        "tar": export_graph_csvs(export_dir=tar, as_tar=True, **kw),
        "multi": export_graph_csvs_distributed(export_dir=multi, **kw),
    }
    with tarfile.open(metas["tar"]["tarPath"]) as tf:
        archived = {
            m.name: tf.extractfile(m).read().decode("utf-8")
            for m in tf.getmembers()
        }

    for name in ["docs", "doc-roots", "entities", "entity-docs", "email-docs"]:
        want = Counter((single / f"{name}.csv").read_text().splitlines())
        assert want, f"{name} is empty"
        assert Counter(archived[f"{name}.csv"].splitlines()) == want, name
        parts = Counter(
            line
            for p in (multi / name).glob("part-*")
            for line in p.read_text().splitlines()
        )
        assert parts == want, f"{name} bytes diverge"
        header = (single / f"{name}-header.csv").read_text()
        assert (multi / f"{name}-header.csv").read_text() == header
        assert (tar / f"{name}-header.csv").read_text() == header
        assert archived[f"{name}-header.csv"] == header

    # the same counts in every layout; the single-file layouts list one
    # body per type, the multi-part one every part
    for kind, n, paths in [
        ("nodes", "nNodes", "nodePaths"),
        ("relationships", "nRelationships", "relationshipPaths"),
    ]:
        counts = {k: [e[n] for e in m[kind]] for k, m in metas.items()}
        assert counts["tar"] == counts["multi"] == counts["single"]
        for k in ("single", "tar"):
            assert all(len(e[paths]) == 1 for e in metas[k][kind])
    assert all(len(n["nodePaths"]) >= 1 for n in metas["multi"]["nodes"])

    # dry-run compiles one import command referencing every body
    for k, d in [("single", single), ("multi", multi)]:
        out = subprocess.run(
            ["bash", "bulk-import.sh", "--dry-run"],
            cwd=d,
            env={"NEO4J_HOME": "neo4j-home", "PATH": "/usr/bin:/bin"},
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        assert "neo4j-admin database import full" in out
        for p in metas[k]["nodes"][0]["nodePaths"]:
            assert p in out


@pytest.mark.parametrize("as_tar", [False, True])
def test_single_file_export_runs_the_distributed_jobs(
    spark, graph, tmp_path, last_sql_execution, as_tar
):
    """The single-file layouts are written by the executors, like the
    multi-part one: five SQL executions and no more jobs than the
    multi-part export (a driver-streamed sort took twice as many)."""
    from datashare_extension_neo4j_spark.observe import observe
    from datashare_extension_neo4j_spark.sinks.neo4j_csv import (
        export_graph_csvs_distributed,
    )

    kw = dict(
        docs=graph.docs, doc_roots=graph.doc_roots, entities=graph.entities,
        appears_in=graph.appears_in, emails=graph.emails,
    )
    with observe() as multi:
        export_graph_csvs_distributed(export_dir=tmp_path / "multi", **kw)
    before = last_sql_execution()
    with observe() as single:
        export_graph_csvs(export_dir=tmp_path / "single", as_tar=as_tar, **kw)
    assert last_sql_execution() - before == 5
    assert len(single["jobs"]) <= len(multi["jobs"])


def test_distributed_export_writes_each_file_once(
    spark, graph, tmp_path, last_sql_execution
):
    """Each file's count is observed on its one write: five SQL
    executions for the package (a write then a count per file took 10),
    and no RDD is left persisted."""
    from datashare_extension_neo4j_spark.checkpoints import _persistent_rdd_ids
    from datashare_extension_neo4j_spark.sinks.neo4j_csv import (
        export_graph_csvs_distributed,
    )

    persisted = _persistent_rdd_ids(spark)
    before = last_sql_execution()
    meta = export_graph_csvs_distributed(
        docs=graph.docs, doc_roots=graph.doc_roots, entities=graph.entities,
        appears_in=graph.appears_in, emails=graph.emails,
        export_dir=tmp_path / "multi",
    )
    assert last_sql_execution() - before == 5
    assert _persistent_rdd_ids(spark) == persisted
    assert [n["nNodes"] for n in meta["nodes"]] == [N_DOCS + 5, graph.entities.count()]
    assert [r["nRelationships"] for r in meta["relationships"]] == [
        graph.doc_roots.count(), graph.appears_in.count(), graph.emails.count(),
    ]
