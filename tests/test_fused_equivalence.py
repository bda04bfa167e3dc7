"""build_graph's derivation (rule NER and the per-document edge
aggregation fused into the parse pass, edges emitted by projection)
must equal the groupBy operator reference over the exploded mention
stream, and ``cli build``'s materializing runner must store the same
tables as build_graph + materialize_graph."""

from datashare_extension_neo4j_spark.fixtures import reference_pages
from datashare_extension_neo4j_spark.manifest import run_pipeline
from datashare_extension_neo4j_spark.operators.documents import (
    doc_nodes,
    has_parent_edges,
)
from datashare_extension_neo4j_spark.operators.edges import (
    appears_in_edges,
    email_edges,
)
from datashare_extension_neo4j_spark.operators.entities import entity_nodes
from datashare_extension_neo4j_spark.operators.extract import parse_pages
from datashare_extension_neo4j_spark.operators.ner import (
    annotated_mentions,
    rule_based_mentions,
)
from datashare_extension_neo4j_spark.pipeline import GraphBuild, build_graph
from datashare_extension_neo4j_spark.schemas import PAGES_SCHEMA
from datashare_extension_neo4j_spark.sinks.tables import (
    TABLE_KEYS,
    load_store,
    materialize_graph,
)

# a mention id holding the '|' array separator and an empty extractor
SEPARATOR_URL = "https://separators.test/x"
SEPARATOR_PAGE = (
    SEPARATOR_URL,
    None,
    b'<html><body><p>hostile separators</p><span class="ne" data-id="a|b"'
    b' data-norm="zyx corp" data-category="ORGANIZATION" data-extractor=""'
    b' data-offsets="0"></span></body></html>',
    None,
    "en",
)


def _reference(pages) -> GraphBuild:
    """The operator reference: annotated and rule-NER mentions as one
    exploded stream, aggregated by the groupBy operators."""
    parsed = parse_pages(pages)
    docs = doc_nodes(parsed)
    mentions = annotated_mentions(parsed).unionByName(
        rule_based_mentions(docs)
    )
    return GraphBuild(
        docs=docs,
        doc_roots=has_parent_edges(docs),
        entities=entity_nodes(mentions),
        appears_in=appears_in_edges(mentions),
        emails=email_edges(mentions),
    )


def _canon_appears(df):
    return {
        (r["startId"], r["endId"]): (
            tuple(r["mentionIds"]),
            tuple(r["mentionExtractors"]),
            tuple(r["offsets"]),
            r["extractorLanguage"],
            r["mentionCount"],
        )
        for r in df.collect()
    }


def test_fused_equals_unfused(spark):
    pages = reference_pages(spark, n_docs=15, n_noise=3).unionByName(
        spark.createDataFrame([SEPARATOR_PAGE], PAGES_SCHEMA)
    )
    plain = _reference(pages)
    fused = build_graph(pages, use_rule_ner=True)
    appears = _canon_appears(fused.appears_in)
    assert _canon_appears(plain.appears_in) == appears
    hostile = [v for (_, doc), v in appears.items() if doc == SEPARATOR_URL]
    assert hostile == [(("a|b",), ("",), (0,), "en", 1)]
    em = lambda g: {  # noqa: E731
        (r["startId"], r["endId"], r["type"]): tuple(r["fields"])
        for r in g.emails.collect()
    }
    assert em(plain) == em(fused)
    ents = lambda g: {  # noqa: E731
        (r["mentionNorm"], r["category"]) for r in g.entities.collect()
    }
    assert ents(plain) == ents(fused)
    roots = lambda g: {(r["src"], r["dst"]) for r in g.doc_roots.collect()}  # noqa: E731
    assert roots(plain) == roots(fused)


def test_fused_plan_has_no_edge_shuffle(spark):
    pages = reference_pages(spark, n_docs=5)
    fused = build_graph(pages, use_rule_ner=True)
    plan = fused.appears_in._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def _canon(v):
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return v


def _rows(df) -> list[str]:
    """Order-insensitive table contents (rows and columns)."""
    return sorted(repr(_canon(r.asDict(recursive=True))) for r in df.collect())


def test_cli_build_stores_build_graph_tables(spark, tmp_path):
    pages_path = str(tmp_path / "pages")
    reference_pages(spark, n_docs=15, n_noise=3).write.parquet(pages_path)
    run_dir = str(tmp_path / "run")
    run_pipeline(spark, pages_path, run_dir, use_rule_ner=True, buckets=4)
    out = str(tmp_path / "out")
    materialize_graph(
        build_graph(spark.read.parquet(pages_path), use_rule_ner=True), out
    )
    built, stored = load_store(spark, out), load_store(spark, run_dir)
    for name in TABLE_KEYS:
        a, b = getattr(built, name), getattr(stored, name)
        assert sorted(a.columns) == sorted(b.columns), name
        assert a.count() > 0, name
        assert _rows(a) == _rows(b), name


HEADER_EDGE = {
    "tika_metadata_message_from": "SENT",
    "tika_metadata_dc_creator": "SENT",
    "tika_metadata_message_bcc": "RECEIVED",
    "tika_metadata_message_cc": "RECEIVED",
    "tika_metadata_message_to": "RECEIVED",
    "x_unknown_header": None,
}


def test_header_classification_matches_operator(spark):
    """Each tika email header (and an unknown one) gets the same SENT /
    RECEIVED / no edge from the fused per-page aggregation as from the
    groupBy operator over the exploded mention stream."""
    pages = spark.createDataFrame(
        [
            (
                f"https://header.test/{h}",
                None,
                b'<html><body><p>no address here</p><span class="ne"'
                b' data-id="h" data-norm="a@b.org" data-category="EMAIL"'
                b" data-offsets=\"0\" data-metadata='{\"emailHeaderField\": \""
                + h.encode()
                + b"\"}'></span></body></html>",
                None,
                "en",
            )
            for h in HEADER_EDGE
        ],
        PAGES_SCHEMA,
    )
    edge = lambda df: {  # noqa: E731
        r["endId"].rsplit("/", 1)[1]: r["type"] for r in df.collect()
    }
    fused = edge(build_graph(pages, use_rule_ner=True).emails)
    operator = edge(email_edges(annotated_mentions(parse_pages(pages))))
    expected = {h: t for h, t in HEADER_EDGE.items() if t is not None}
    assert fused == operator == expected
