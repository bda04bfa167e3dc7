"""The dump's plan: the edges as one filter and the nodes as one
broadcast semi join, each read in one job, checked against the earlier
shuffled semi-join formulation; plus the CLI's output files (UTF-8
whatever the locale, and kept whole when a dump fails)."""

import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from datashare_extension_neo4j_spark.cli import main
from datashare_extension_neo4j_spark.fixtures import reference_pages_pandas
from datashare_extension_neo4j_spark.graph import to_property_graph
from datashare_extension_neo4j_spark.observe import observe
from datashare_extension_neo4j_spark.pipeline import build_graph
from datashare_extension_neo4j_spark.plans import dsl
from datashare_extension_neo4j_spark.plans.dsl import (
    DEFAULT_LIMIT,
    DUMP_EDGE_TYPES,
    GraphTables,
    compile_dump_query,
    compile_query,
)
from datashare_extension_neo4j_spark.schemas import PAGES_SCHEMA
from datashare_extension_neo4j_spark.sinks.tables import load_store
from test_hostile_pages import HOSTILE_ROWS

ROOT = Path(__file__).resolve().parents[1]
DOC = {"name": "doc", "labels": ["Document"]}
DEFAULT = {
    "matches": [{"path": {"nodes": [DOC]}}],
    "orderBy": [{"property": {"variable": "doc", "name": "path"}, "direction": "asc"}],
}
NO_DOC = {"name": "doc", "labels": ["Document"], "properties": {"id": "nope"}}


def _hop(direction: str, optional: bool = False, **rel) -> dict:
    return {"path": {
        "nodes": [DOC, {"name": "x"}],
        "relationships": [{"name": "rel", "direction": direction, **rel}],
        "optional": optional,
    }}


# (user query, or None for the default; the --limit)
QUERIES = {
    "default": (None, DEFAULT_LIMIT),
    "to": ({"matches": [_hop("to")]}, DEFAULT_LIMIT),
    "from": ({"matches": [_hop("from", types=["APPEARS_IN"])]}, DEFAULT_LIMIT),
    "between": ({"matches": [_hop("between")]}, DEFAULT_LIMIT),
    "optional": (
        {"matches": [{"path": {"nodes": [DOC]}}, _hop("from", True, types=["SENT"])]},
        DEFAULT_LIMIT,
    ),
    "optional_nothing": (
        {"matches": [{"path": {"nodes": [NO_DOC], "optional": True}}]},
        DEFAULT_LIMIT,
    ),
    "nothing": ({"matches": [{"path": {"nodes": [NO_DOC]}}]}, DEFAULT_LIMIT),
    "limit_1": (None, 1),
}


def semi_join_dump(g: GraphTables, q: dict, limit: int):
    """The earlier formulation, the oracle: the collected doc ids as a
    local frame, the edges as a union of two semi joins de-duplicated
    on their key, the nodes as a semi join against the distinct union
    of the doc ids and the edge endpoints."""
    docs = compile_query(g, q, default_limit=limit)
    doc_ids = docs.select(F.col("doc.node_id").alias("node_id")).distinct()
    doc_ids = docs.sparkSession.createDataFrame(doc_ids.collect(), doc_ids.schema)
    rels = g.edges.where(F.col("type").isin(*DUMP_EDGE_TYPES))
    sub_edges = rels.join(
        doc_ids, rels.src == doc_ids.node_id, "left_semi"
    ).unionByName(rels.join(doc_ids, rels.dst == doc_ids.node_id, "left_semi"))
    ne_ids = (
        sub_edges.select(F.col("src").alias("node_id"))
        .unionByName(sub_edges.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    all_ids = doc_ids.unionByName(ne_ids).distinct()
    nodes = g.nodes.join(all_ids, "node_id", "left_semi")
    return nodes, sub_edges.dropDuplicates(["src", "dst", "type"])


def _rows(nodes, edges) -> tuple[list, list]:
    """Node ids and (src, dst, type, props) edges, sorted, duplicates
    kept."""
    return (
        sorted(r["node_id"] for r in nodes.collect()),
        sorted(
            (r["src"], r["dst"], r["type"], sorted((r["props"] or {}).items()))
            for r in edges.collect()
        ),
    )


def _pages(spark, pdf, path: Path) -> str:
    spark.createDataFrame(pdf, schema=PAGES_SCHEMA).write.parquet(str(path))
    return str(path)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("dump_plan")
    pages = _pages(spark, reference_pages_pandas(n_docs=10), tmp / "pages")
    run_dir = str(tmp / "run")
    assert main(["build", "--pages", pages, "--run-dir", run_dir,
                 "--buckets", "2"]) == 0
    return run_dir


@pytest.fixture(scope="module")
def store_graph(spark, store):
    return to_property_graph(load_store(spark, store))


@pytest.mark.parametrize("case", sorted(QUERIES))
def test_dump_equals_semi_join_formulation(store_graph, case):
    query, limit = QUERIES[case]
    got = _rows(*compile_dump_query(
        store_graph, query and {"queries": [query]}, default_limit=limit
    ))
    assert got == _rows(*semi_join_dump(store_graph, query or DEFAULT, limit))
    if case in ("nothing", "optional_nothing"):
        assert got == ([], [])
    else:
        assert got[1], "every other query attaches some edge"


def test_dump_equals_semi_join_formulation_on_hostile_pages(spark):
    g = to_property_graph(
        build_graph(spark.createDataFrame(HOSTILE_ROWS, PAGES_SCHEMA), use_rule_ner=True)
    )
    got = _rows(*compile_dump_query(g, None))
    assert got == _rows(*semi_join_dump(g, DEFAULT, DEFAULT_LIMIT))
    assert len(got[0]) > len(HOSTILE_ROWS)  # entities came along


def test_dump_ids_with_sql_quote_characters(spark):
    """Doc ids enter the plan as SQL string literals: quotes and
    backslashes in them are data, not syntax."""
    ids = ["o'brien\\path", "a\\'b", "q\"x", "\\", "'"]
    nodes = spark.createDataFrame(
        [(i, ["Document"], {"path": i}) for i in ids]
        + [("ne", ["NamedEntity"], None)],
        "node_id string, labels array<string>, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [("ne", i, "APPEARS_IN", None) for i in ids[:2]],
        "src string, dst string, type string, props map<string,string>",
    )
    g = GraphTables(nodes=nodes, edges=edges)
    got = _rows(*compile_dump_query(g, None))
    assert got == _rows(*semi_join_dump(g, DEFAULT, DEFAULT_LIMIT))
    assert got[0] == sorted(ids + ["ne"])


def test_dump_sides_shuffle_nothing(store_graph):
    """After the DSL query, neither side holds a shuffle Exchange, and
    each is read in one SQL execution: the edges in one job, the nodes
    in one job plus the broadcast's. The earlier formulation, read
    through toLocalIterator, took 6 Exchanges and 8 jobs for the edges,
    and 12 Exchanges and 16 jobs for the nodes."""
    nodes, edges = compile_dump_query(store_graph, None)
    with observe() as e:
        edges.collect()
    with observe() as n:
        nodes.collect()
    assert (e["exchanges"], n["exchanges"]) == (0, 0)
    assert (len(e["executions"]), len(n["executions"])) == (1, 1)
    assert (len(e["jobs"]), len(n["jobs"])) == (1, 2)


def test_cli_writes_utf8_whatever_the_locale(spark, tmp_path):
    """Under the C locale Python's default file encoding is ASCII; the
    dump and the CSV export still write UTF-8 (GraphML declares it,
    neo4j-admin reads it)."""
    pdf = reference_pages_pandas(n_docs=2)
    pdf.loc[0, "html"] = pdf.loc[0, "html"].replace(
        b"<head>", '<head><meta name="ds:title" content="İstanbul Zoë"/>'.encode()
    )
    pages = _pages(spark, pdf, tmp_path / "pages")
    run_dir = str(tmp_path / "run")
    assert main(["build", "--pages", pages, "--run-dir", run_dir]) == 0
    env = {**os.environ, "LC_ALL": "C", "PYTHONUTF8": "0",
           "PYTHONCOERCECLOCALE": "0", "PYTHONPATH": str(ROOT)}
    dump = tmp_path / "dump.graphml"
    for argv in (
        ["export-csv", "--run-dir", run_dir, "--export-dir", str(tmp_path / "csv")],
        ["dump", "--run-dir", run_dir, "--output", str(dump)],
    ):
        proc = subprocess.run(
            [sys.executable, "-m", "datashare_extension_neo4j_spark.cli",
             "--master", "local[2]", *argv],
            env=env, capture_output=True, text=True,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
    assert "İstanbul Zoë" in (tmp_path / "csv" / "docs.csv").read_text(encoding="utf-8")
    assert "İstanbul Zoë" in dump.read_text(encoding="utf-8")


@pytest.mark.parametrize("side", ["nodes", "edges"])
def test_failed_dump_keeps_the_previous_output(store, tmp_path, monkeypatch, side):
    """A side whose read fails leaves an existing --output as it was."""
    real = dsl.compile_dump_query

    def failing(*args, **kwargs):
        frames = dict(zip(("nodes", "edges"), real(*args, **kwargs)))
        frames[side] = frames[side].where(
            F.raise_error(F.lit(f"injected {side} read failure")).isNull()
        )
        return frames["nodes"], frames["edges"]

    monkeypatch.setattr(dsl, "compile_dump_query", failing)
    out = tmp_path / "dump.graphml"
    out.write_text("previous dump\n")
    with pytest.raises(Exception, match=f"injected {side} read failure"):
        main(["dump", "--run-dir", store, "--output", str(out)])
    assert out.read_text() == "previous dump\n"
