"""Count-based import scenarios ported from the reference
(tests/core/test_imports.py:124-161 for documents, :229-276 for named
entities): type filtering, id filtering, match_all, and the
parent-semi-join restriction, asserted on the same counts."""

import pytest
from pyspark.sql import functions as F

from datashare_extension_neo4j_spark.fixtures import reference_pages
from datashare_extension_neo4j_spark.operators.edges import (
    appears_in_edges,
    email_edges,
)
from datashare_extension_neo4j_spark.operators.entities import entity_nodes
from datashare_extension_neo4j_spark.operators.extract import parse_pages
from datashare_extension_neo4j_spark.operators.ner import annotated_mentions
from datashare_extension_neo4j_spark.pipeline import build_graph


@pytest.fixture(scope="module")
def pages(spark):
    # 20 docs + 5 noise pages, 20 mentions, 2 emails — the reference corpus
    return reference_pages(spark, n_docs=20, n_noise=5)


@pytest.fixture(scope="module")
def corpus(pages):
    return build_graph(pages)


@pytest.fixture(scope="module")
def mentions(pages):
    """The raw mention stream, from the operator reference (the graph
    build aggregates mentions in-pass and keeps no mention table)."""
    return annotated_mentions(parse_pages(pages))


def _docs_only(g):
    return g.docs.where(F.col("id").startswith("doc-"))


def test_docs_match_all(corpus):
    # imported=20, nodes=20, rels=19 (test_imports.py:129-134)
    docs = _docs_only(corpus)
    assert docs.count() == 20
    assert corpus.doc_roots.count() == 19


def test_docs_nonexistent_id(corpus):
    docs = _docs_only(corpus).where(F.col("id") == "i-dont-exist")
    assert docs.count() == 0


def test_docs_single_id(corpus):
    # doc-0: 1 node, 0 HAS_PARENT (self-parent nulled)
    docs = _docs_only(corpus).where(F.col("id") == "doc-0")
    assert docs.count() == 1
    rels = corpus.doc_roots.where(F.col("src") == "doc-0")
    assert rels.count() == 0


def test_nes_with_parent_semi_join(mentions, spark):
    """NE import restricted to docs already in the sink (J1): with
    docs {doc-0, doc-3, doc-6, doc-9} imported, exactly 12 mentions
    survive, creating 8 entities and 8 APPEARS_IN rels
    (test_imports.py:231-239)."""
    inserted = spark.createDataFrame(
        [("doc-0",), ("doc-3",), ("doc-6",), ("doc-9",)], "documentId string"
    )
    kept = mentions.where(
        ~F.col("id").startswith("email-")
    ).join(F.broadcast(inserted), "documentId", "left_semi")
    assert kept.count() == 12
    assert entity_nodes(kept).count() == 8
    assert appears_in_edges(kept).count() == 8


def test_nes_single_id(mentions):
    m = mentions.where(F.col("id") == "named-entity-0")
    assert m.count() == 1
    assert entity_nodes(m).count() == 1
    assert appears_in_edges(m).count() == 1


def test_nes_match_nothing(mentions):
    m = mentions.where(F.col("id") == "i-dont-exist")
    assert m.count() == 0
    assert appears_in_edges(m).count() == 0
    assert email_edges(m).count() == 0


def test_noise_never_imported(corpus, mentions):
    # the 5 noise pages exist as parsed rows but contribute zero
    # mentions/edges (reference: type-filter excludes noise)
    noise_docs = corpus.docs.where(~F.col("id").startswith("doc-"))
    assert noise_docs.count() == 5
    noise_mentions = mentions.join(
        noise_docs.select(F.col("id").alias("documentId")),
        "documentId",
        "left_semi",
    )
    assert noise_mentions.count() == 0
