"""Byte-parity of the JVM-side CSV formatter vs the reference's writer
config (Python csv excel dialect, QUOTE_MINIMAL, backslash doubling —
reference neo4j-app/neo4j_app/core/neo4j/__init__.py:96-130)."""

import csv
import io

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datashare_extension_neo4j_spark.functions.csvfmt import (
    neo4j_csv_line,
    neo4j_header_line,
)


def reference_csv_line(values):
    """Driver-side twin of the reference writer for one row."""
    buf = io.StringIO()
    w = csv.writer(
        buf,
        dialect="excel",
        doublequote=True,
        escapechar=None,
        quoting=csv.QUOTE_MINIMAL,
        lineterminator="\n",
    )
    formatted = []
    for v in values:
        if v is None:
            v = ""
        elif isinstance(v, str):
            v = v.replace("\\", "\\\\")
        formatted.append(v)
    w.writerow(formatted)
    return buf.getvalue()[:-1]


CASES = [
    ["plain", "x", "y"],
    ["with,comma", "b", ""],
    ['with"quote', "b", "c"],
    ["back\\slash", "b", "c"],
    ["multi\nline", "b", "c"],
    ["tricky\\,mix\"", None, "end"],
    ["", None, ""],
    ["carriage\rreturn", "b", "c"],
    ["unicode é漢字", "ümlaut", "ok"],
]


def test_csv_line_matches_reference_cases(spark):
    df = spark.createDataFrame(
        [(i, *row) for i, row in enumerate(CASES)],
        schema="i int, a string, b string, c string",
    )
    got = {
        r["i"]: r["line"]
        for r in df.select(
            "i", neo4j_csv_line([F.col("a"), F.col("b"), F.col("c")]).alias("line")
        ).collect()
    }
    for i, row in enumerate(CASES):
        assert got[i] == reference_csv_line(row), f"case {i}: {row!r}"


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(
                alphabet=st.characters(blacklist_categories=("Cs",)), max_size=30
            ),
        ),
        min_size=1,
        max_size=4,
    )
)
def test_csv_line_property(spark, values):
    df = spark.createDataFrame(
        [tuple(values)], schema=", ".join(f"c{i} string" for i in range(len(values)))
    )
    cols = [F.col(f"c{i}") for i in range(len(values))]
    got = df.select(neo4j_csv_line(cols).alias("line")).collect()[0]["line"]
    assert got == reference_csv_line(values)


def test_header_line():
    assert (
        neo4j_header_line(["a:ID", "b", ":LABEL"]) == "a:ID,b,:LABEL\n"
    )


def test_doc_csv_created_modified_swap(spark):
    """Bug-compat with the reference's bulk-CSV mapping: it writes the
    doc's createdAt value under the modifiedAt:DATETIME header and vice
    versa (imports.py:383-387 — its goldens mask this with identical
    timestamps; its Cypher MERGE path does not swap). We mirror the
    swap so exports are byte-identical to real reference exports."""
    from datashare_extension_neo4j_spark.sinks.neo4j_csv import doc_nodes_csv_lines

    docs = spark.createDataFrame(
        [
            (
                "doc-0", "dir", "text/html", 10, "2023-01-01T00:00:00Z", 0,
                "p", "t", "u", "2001-01-01T00:00:00Z", "2002-02-02T00:00:00Z",
            )
        ],
        "id string, dirname string, contentType string, contentLength long,"
        " extractionDate string, extractionLevel long, path string,"
        " title string, urlSuffix string, createdAt string, modifiedAt string",
    )
    [line] = [r["line"] for r in doc_nodes_csv_lines(docs).collect()]
    # header order is ...,createdAt:DATETIME,modifiedAt:DATETIME,:LABEL;
    # the createdAt column position carries the modifiedAt VALUE
    assert line.endswith("2002-02-02T00:00:00Z,2001-01-01T00:00:00Z,Document")


def test_tar_keeps_header_files(spark, tmp_path):
    """as_tar destroys only body CSVs; *-header.csv files stay on disk
    so metadata.json keeps resolving (reference imports.py:893-909)."""
    import tarfile

    from datashare_extension_neo4j_spark.sinks.neo4j_csv import export_graph_csvs

    empty = lambda schema: spark.createDataFrame([], schema)  # noqa: E731
    export_graph_csvs(
        docs=empty(
            "id string, dirname string, contentType string,"
            " contentLength long, extractionDate string,"
            " extractionLevel long, path string, title string,"
            " urlSuffix string, createdAt string, modifiedAt string"
        ),
        doc_roots=empty("src string, dst string"),
        entities=empty("entityId string, mentionNorm string, label string"),
        appears_in=empty(
            "mentionExtractors array<string>, extractorLanguage string,"
            " mentionIds array<string>, offsets array<long>,"
            " startId string, endId string, type string"
        ),
        emails=empty(
            "fields array<string>, startId string, endId string, type string"
        ),
        export_dir=tmp_path,
        as_tar=True,
    )
    on_disk = {p.name for p in tmp_path.iterdir()}
    assert "docs-header.csv" in on_disk and "entities-header.csv" in on_disk
    assert "docs.csv" not in on_disk and "entity-docs.csv" not in on_disk
    with tarfile.open(tmp_path / "neo4j-export.tar.gz") as tf:
        names = set(tf.getnames())
    assert "docs.csv" in names and "docs-header.csv" in names


def _export_two_docs(spark, tmp_path, layout):
    """Export two docs, one titled with an embedded newline, in ``layout``
    and return the metadata and the docs CSV body."""
    import tarfile

    from datashare_extension_neo4j_spark.sinks.neo4j_csv import (
        export_graph_csvs,
        export_graph_csvs_distributed,
    )

    docs = spark.createDataFrame(
        [
            ("doc-0", "d", "text/html", 1, "2023", 0, "p", "title\nwith newline",
             "u", "2022", "2022"),
            ("doc-1", "d", "text/html", 1, "2023", 0, "p", "plain", "u",
             "2022", "2022"),
        ],
        "id string, dirname string, contentType string, contentLength long,"
        " extractionDate string, extractionLevel long, path string,"
        " title string, urlSuffix string, createdAt string, modifiedAt string",
    )
    empty = lambda schema: spark.createDataFrame([], schema)  # noqa: E731
    kw = dict(
        docs=docs,
        doc_roots=empty("src string, dst string"),
        entities=empty("entityId string, mentionNorm string, label string"),
        appears_in=empty(
            "mentionExtractors array<string>, extractorLanguage string,"
            " mentionIds array<string>, offsets array<long>,"
            " startId string, endId string, type string"
        ),
        emails=empty(
            "fields array<string>, startId string, endId string, type string"
        ),
        export_dir=tmp_path,
    )
    if layout == "distributed":
        meta = export_graph_csvs_distributed(**kw)
        body = "".join(
            (tmp_path / p).read_text() for p in meta["nodes"][0]["nodePaths"]
        )
    elif layout == "tar":
        meta = export_graph_csvs(as_tar=True, **kw)
        with tarfile.open(meta["tarPath"]) as tf:
            body = tf.extractfile("docs.csv").read().decode("utf-8")
    else:
        meta = export_graph_csvs(**kw)
        body = (tmp_path / "docs.csv").read_text()
    return meta, body


def _assert_two_records(meta, body):
    assert meta["nodes"][0]["nNodes"] == 2  # not 3
    rows = list(csv.reader(io.StringIO(body, newline="")))
    assert sorted(r[7] for r in rows) == ["plain", "title\nwith newline"]


def test_distributed_export_counts_embedded_newlines(spark, tmp_path):
    """metadata.json record counts must count RECORDS, not physical
    lines: a quoted field with an embedded newline spans two lines. The
    part files parse back as two records."""
    _assert_two_records(*_export_two_docs(spark, tmp_path, "distributed"))


@pytest.mark.parametrize("layout", ["single", "tar"])
def test_export_counts_embedded_newlines(spark, tmp_path, layout):
    """The same record count and round trip for docs.csv and the tar's
    docs.csv."""
    _assert_two_records(*_export_two_docs(spark, tmp_path, layout))
