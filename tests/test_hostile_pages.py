"""Hostile-input robustness: the pipeline must not crash, must keep
its invariants (byte-identical extraction, CSV quoting), and must
short-circuit pre-extracted text — over inputs a web crawl actually
produces (null/empty/truncated html, unclosed tags, unicode, commas
and quotes in ids/urls)."""

import pytest
from pyspark.sql import functions as F

from datashare_extension_neo4j_spark.operators.extract import parse_pages
from datashare_extension_neo4j_spark.operators.ner import (
    DEFAULT_GAZETTEER,
    annotated_mentions,
)
from datashare_extension_neo4j_spark.pipeline import build_graph
from datashare_extension_neo4j_spark.schemas import PAGES_SCHEMA
from datashare_extension_neo4j_spark.sinks.neo4j_csv import export_graph_csvs


HOSTILE_ROWS = [
    # (url, warc_ts, html, text, lang)
    ("https://null-html.test/a", None, None, None, "en"),
    ("https://empty.test/b", None, b"", None, "en"),
    ("https://unclosed.test/c", None,
     b"<html><body><p>unclosed <b>bold <i>nested", None, "en"),
    ("https://unicode.test/d", None,
     "<html><body><p>café 北京 \U0001f600 naïve</p></body></html>".encode(),
     None, "fr"),
    ("https://preextracted.test/e", None,
     b"<html><body>IGNORED BY SHORT-CIRCUIT</body></html>",
     "already extracted text", "en"),
    ('https://comma.test/f?q="quoted",and,commas', None,
     b'<html><head><meta name="ds:id" content="doc,with\xe2\x80\x9cquote"/>'
     b"</head><body><p>body, with, commas</p></body></html>", None, "en"),
    ("https://script.test/g", None,
     b"<html><head><script>var x = 'must not leak';</script></head>"
     b"<body><p>kept</p><style>.x{}</style></body></html>", None, "en"),
    ("https://truncated-utf8.test/h", None,
     b"<html><body><p>broken \xe2\x82 utf8</p></body></html>", None, "en"),
] + [
    # span metadata that is not a JSON object with a string header
    (f"https://bad-metadata.test/{i}", None,
     b'<html><body><p>x</p><span class="ne" data-id="bm" data-norm="a@b.org"'
     b' data-category="EMAIL" data-offsets="0" data-metadata=\'' + md
     + b"'></span></body></html>", None, "en")
    for i, md in enumerate(
        [b"not json", b"[1]", b'{"emailHeaderField": 5}']
    )
]


@pytest.fixture(scope="module")
def hostile_graph(spark):
    pages = spark.createDataFrame(HOSTILE_ROWS, PAGES_SCHEMA)
    g = build_graph(pages, use_rule_ner=True)
    yield g


@pytest.fixture(scope="module")
def hostile_parsed(spark):
    """The parse operator's full output (text and raw mentions), which
    the graph build does not keep."""
    pages = spark.createDataFrame(HOSTILE_ROWS, PAGES_SCHEMA)
    return parse_pages(pages, ner_gazetteer=DEFAULT_GAZETTEER)


def test_no_crash_and_one_doc_per_page(hostile_graph):
    docs = hostile_graph.docs.collect()
    assert len(docs) == len(HOSTILE_ROWS)


def test_pre_extracted_text_short_circuits(hostile_parsed):
    row = hostile_parsed.where(
        F.col("id").contains("preextracted")
    ).collect()[0]
    assert row["text"] == "already extracted text"
    assert "IGNORED" not in (row["text"] or "")


def test_script_and_style_dropped(hostile_parsed):
    row = hostile_parsed.where(F.col("id").contains("script")).collect()[0]
    assert row["text"] == "kept"


def test_unicode_preserved(hostile_parsed):
    row = hostile_parsed.where(F.col("id").contains("unicode")).collect()[0]
    assert row["text"] == "café 北京 \U0001f600 naïve"


def test_null_and_empty_html(hostile_parsed):
    by_id = {r["id"]: r["text"] for r in hostile_parsed.collect()}
    null_doc = next(v for k, v in by_id.items() if "null-html" in k)
    empty_doc = next(v for k, v in by_id.items() if "empty.test" in k)
    # null html normalizes to empty text (not a crash, not a dropped
    # row) — same as genuinely empty html
    assert null_doc in (None, "")
    assert empty_doc == ""


def test_extraction_is_deterministic(spark):
    """Byte-identical text per url across two independent parses at
    different parallelism (the BASELINE.json hard invariant), on the
    hostile corpus specifically."""
    pages1 = spark.createDataFrame(HOSTILE_ROWS, PAGES_SCHEMA).repartition(1)
    pages8 = spark.createDataFrame(HOSTILE_ROWS, PAGES_SCHEMA).repartition(8)
    t1 = {
        r["id"]: r["text"]
        for r in parse_pages(pages1).collect()
    }
    t8 = {
        r["id"]: r["text"]
        for r in parse_pages(pages8).collect()
    }
    assert t1 == t8


def test_csv_quoting_of_hostile_ids(hostile_graph, tmp_path):
    """Commas and curly quotes in doc ids flow through the byte-format
    CSV writer with QUOTE_MINIMAL semantics — the file re-parses."""
    import csv as csvmod

    export_graph_csvs(
        docs=hostile_graph.docs,
        doc_roots=hostile_graph.doc_roots,
        entities=hostile_graph.entities,
        appears_in=hostile_graph.appears_in,
        emails=hostile_graph.emails,
        export_dir=tmp_path,
    )
    with (tmp_path / "docs.csv").open(newline="") as f:
        rows = list(csvmod.reader(f))
    assert len(rows) == len(HOSTILE_ROWS)
    ids = {r[0] for r in rows}
    assert 'doc,with“quote' in ids  # comma+quote id survived intact


def test_tar_round_trips_hostile_ids(hostile_graph, tmp_path):
    """The --tar layout keeps a quoted id with a comma and a curly
    quote intact: the archived docs.csv re-parses to every doc id."""
    import csv as csvmod
    import io
    import tarfile

    meta = export_graph_csvs(
        docs=hostile_graph.docs,
        doc_roots=hostile_graph.doc_roots,
        entities=hostile_graph.entities,
        appears_in=hostile_graph.appears_in,
        emails=hostile_graph.emails,
        export_dir=tmp_path,
        as_tar=True,
    )
    with tarfile.open(meta["tarPath"]) as tf:
        body = tf.extractfile("docs.csv").read().decode("utf-8")
    rows = list(csvmod.reader(io.StringIO(body, newline="")))
    assert sorted(r[0] for r in rows) == sorted(
        r["id"] for r in hostile_graph.docs.collect()
    )
    assert 'doc,with“quote' in {r[0] for r in rows}


def test_null_warc_ts_extraction_date(spark):
    """Null timestamp must yield null extractionDate, not the literal
    string 'NaT' (pd.NaT is not None and NaT.isoformat() == 'NaT')."""
    rows = [("https://no-ts.test/x", None,
             b"<html><body><p>hi</p></body></html>", None, "en")]
    g = build_graph(spark.createDataFrame(rows, PAGES_SCHEMA))
    assert g.docs.collect()[0]["extractionDate"] is None


def test_span_without_norm_is_dropped(spark):
    """Annotated spans missing data-norm/data-id/data-category are not
    mentions — dropped instead of crashing the parse task."""
    html = (
        b'<html><body><p>x</p>'
        b'<span class="ne" data-id="m1" data-category="PERSON"></span>'
        b'<span class="ne" data-id="m2" data-norm="alice"'
        b' data-category="PERSON" data-offsets="0"></span>'
        b"</body></html>"
    )
    rows = [("https://partial-span.test/x", None, html, None, "en")]
    parsed = parse_pages(spark.createDataFrame(rows, PAGES_SCHEMA))
    norms = [r["mentionNorm"] for r in annotated_mentions(parsed).collect()]
    assert norms == ["alice"]


def test_non_integer_offsets_do_not_crash(spark):
    """A non-integer data-offsets token is not an offset: it is dropped
    instead of failing the whole parse job, and the integer one
    survives into both the mention stream and the edge."""
    html = (
        b'<html><body><p>x</p>'
        b'<span class="ne" data-id="m1" data-norm="alice"'
        b' data-category="PERSON" data-offsets="12;abc"></span>'
        b"</body></html>"
    )
    rows = [("https://bad-offsets.test/x", None, html, None, "en")]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    mentions = annotated_mentions(parse_pages(pages))
    assert [r["offsets"] for r in mentions.collect()] == [[12]]
    g = build_graph(pages)
    assert [r["offsets"] for r in g.appears_in.collect()] == [[12]]


def test_hostile_span_metadata_is_no_header(hostile_graph, hostile_parsed):
    """A span whose data-metadata is not JSON, not an object, or holds
    a non-string emailHeaderField counts as having no header: its
    mention and APPEARS_IN edge stay, and it yields no SENT/RECEIVED
    edge instead of failing the job."""
    bad = F.col("documentId").startswith("https://bad-metadata.test/")
    mentions = annotated_mentions(hostile_parsed).where(bad).collect()
    assert len(mentions) == 3
    assert all(r["metadata"] is None for r in mentions)
    edges = hostile_graph.appears_in.where(
        F.col("endId").startswith("https://bad-metadata.test/")
    ).collect()
    assert sorted(r["endId"][-1] for r in edges) == ["0", "1", "2"]
    assert all(r["offsets"] == [0] for r in edges)
    assert hostile_graph.emails.where(
        F.col("endId").startswith("https://bad-metadata.test/")
    ).count() == 0


def test_cypher_dump_escapes_hostile_ids(spark, tmp_path):
    """Node ids with apostrophes/backslashes must not break (or inject
    into) the emitted cypher statements."""
    import io

    from datashare_extension_neo4j_spark.plans.dump import dump_cypher

    nodes = spark.createDataFrame(
        [("http://x/o'brien", ["Document"], {"id": "o'brien\\path"})],
        "node_id string, labels array<string>, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [("http://x/o'brien", "http://x/o'brien", "APPEARS_IN", None)],
        "src string, dst string, type string, props map<string,string>",
    )
    buf = io.StringIO()
    dump_cypher(nodes.collect(), edges.collect(), buf)
    text = buf.getvalue()
    assert "CREATE (:`Document` {`_id`: 'http://x/o\\'brien'" in text
    assert "MATCH (a {_id:'http://x/o\\'brien'})" in text
    assert "o\\'brien\\\\path" in text


def test_graphml_dump_escapes_hostile_keys(spark):
    """Property keys come from page metadata (attacker-controlled):
    quotes/angle brackets must not break the XML."""
    import io
    from xml.etree import ElementTree

    from datashare_extension_neo4j_spark.plans.dump import dump_graphml

    nodes = spark.createDataFrame(
        [("n<1>", ["Doc"], {'k"ey<x>': 'v<&>"'})],
        "node_id string, labels array<string>, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [],
        "src string, dst string, type string, props map<string,string>",
    )
    buf = io.StringIO()
    dump_graphml(nodes.collect(), edges.collect(), buf)
    # well-formed XML despite hostile key/value/id characters
    root = ElementTree.fromstring(buf.getvalue())
    assert root is not None
