"""Whole-file byte goldens for the CSV export — expected contents are
generated independently from the corpus definition (mirroring the
reference's expected-line generators, test_imports.py:404-475), then
compared as exact line sets against the engine's files."""

import pytest

from datashare_extension_neo4j_spark.fixtures import (
    CREATED_AT,
    EXTRACTION_DATE,
    MODIFIED_AT,
    make_doc,
    make_email_mentions,
    make_mention,
    reference_pages,
)
from datashare_extension_neo4j_spark.functions.hashing import make_entity_id
from datashare_extension_neo4j_spark.pipeline import build_graph
from datashare_extension_neo4j_spark.plans.dsl import compile_dump_query
from datashare_extension_neo4j_spark.graph import to_property_graph
from datashare_extension_neo4j_spark.sinks.neo4j_csv import export_graph_csvs

N = 20


@pytest.fixture(scope="module")
def export_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("export")
    pages = reference_pages(spark, n_docs=N, n_noise=4)
    g = build_graph(pages, project="test_project")
    export_graph_csvs(
        docs=g.docs.where("id like 'doc-%'"),
        doc_roots=g.doc_roots,
        entities=g.entities,
        appears_in=g.appears_in,
        emails=g.emails,
        export_dir=d,
    )
    return d


def expected_docs_lines():
    out = []
    for i in range(N):
        doc = make_doc(i, N)
        root = None if i == 0 else doc["rootDocument"]
        url_suffix = f"ds/test_project/doc-{i}/{root or f'doc-{i}'}"
        title = doc["path"]  # basename(path): title cascade outcome here
        out.append(
            f"doc-{i},dirname-{i},content-type-{i},{i * i},{EXTRACTION_DATE},"
            f"{1 if i else 0},dirname-{i},{title},{url_suffix},"
            f"{CREATED_AT},{MODIFIED_AT},Document"
        )
    return sorted(out)


def expected_entities_lines():
    keys = set()
    for i in range(N):
        m = make_mention(i)
        keys.add((m["mentionNorm"], m["category"]))
    keys.add(("dev@icij.org", "EMAIL"))
    return sorted(
        f"{make_entity_id(n, c)},{n},NamedEntity|{c}" for n, c in keys
    )


def expected_entity_docs_lines():
    groups: dict[tuple, dict] = {}
    mentions = [make_mention(i) for i in range(N)] + make_email_mentions(
        f"doc-{N - 1}"
    )
    for m in mentions:
        key = (m["mentionNorm"], m["category"], m["documentId"])
        g = groups.setdefault(
            key, {"ids": [], "extractors": set(), "offsets": set(), "lang": "en"}
        )
        g["ids"].append(m["id"])
        g["extractors"].add(m["extractor"])
        g["offsets"].update(m["offsets"])
    out = []
    for (norm, cat, doc), g in groups.items():
        out.append(
            "|".join(sorted(g["extractors"]))
            + ",en,"
            + "|".join(sorted(g["ids"]))
            + ","
            + "|".join(str(o) for o in sorted(g["offsets"]))
            + f",{make_entity_id(norm, cat)},{doc},APPEARS_IN"
        )
    return sorted(out)


def expected_email_docs_lines():
    sid = make_entity_id("dev@icij.org", "EMAIL")
    return sorted(
        [
            f"tika_metadata_message_from,{sid},doc-{N - 1},SENT",
            f"tika_metadata_message_to,{sid},doc-{N - 1},RECEIVED",
        ]
    )


def test_docs_csv_full_golden(export_dir):
    got = sorted((export_dir / "docs.csv").read_text().splitlines())
    assert got == expected_docs_lines()


def test_doc_roots_csv_full_golden(export_dir):
    got = sorted((export_dir / "doc-roots.csv").read_text().splitlines())
    assert got == sorted(f"doc-{i},doc-{i - 1}" for i in range(1, N))


def test_entities_csv_full_golden(export_dir):
    got = sorted((export_dir / "entities.csv").read_text().splitlines())
    assert got == expected_entities_lines()


def test_entity_docs_csv_full_golden(export_dir):
    got = sorted((export_dir / "entity-docs.csv").read_text().splitlines())
    assert got == expected_entity_docs_lines()


def test_email_docs_csv_full_golden(export_dir):
    got = sorted((export_dir / "email-docs.csv").read_text().splitlines())
    assert got == expected_email_docs_lines()


def test_dsl_over_real_graph(spark):
    """Integration: pipeline → property graph → DSL dump → nodes/edges."""
    pages = reference_pages(spark, n_docs=10)
    g = build_graph(pages)
    tables = to_property_graph(g)
    dump = {
        "queries": [
            {
                "matches": [
                    {"path": {"nodes": [{"name": "doc", "labels": ["Document"]}]}}
                ],
                "where": {
                    "startsWith": {
                        "property": {"variable": "doc", "name": "path"},
                        "value": {"literal": "dirname-0"},
                    }
                },
            }
        ]
    }
    nodes, edges = compile_dump_query(tables, dump)
    ids = {r["node_id"] for r in nodes.collect()}
    assert "doc-0" in ids
    # doc-0 hosts mentions 0..2 → 2 entities attached
    ents = {i for i in ids if not i.startswith("doc-")}
    assert len(ents) == 2
    assert edges.count() == 2
