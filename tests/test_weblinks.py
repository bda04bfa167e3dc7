"""Web link-graph family (operators/weblinks.py): extraction
semantics on hostile markup, URL-canonicalization edge cases,
host-graph plan shape, and directed-PageRank invariants (dangling
mass, determinism across parallelism)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datashare_extension_neo4j_spark.operators.weblinks import (
    canonical_url,
    extract_links,
    host_graph,
    synth_link_pages,
    url_host,
)


def _pages(spark, html: str):
    return spark.createDataFrame(
        [Row(url="https://src.example.org/p", html=html.encode())],
        "url string, html binary",
    )


def test_extract_links_basic(spark):
    html = (
        '<html><body><a href="https://a.test/x?q=1#f">first link</a>\n'
        'text <a href="https://b.test/y" rel="nofollow">second</a>'
        "</body></html>"
    )
    rows = extract_links(_pages(spark, html)).collect()
    assert [(r.dstUrl, r.anchorText) for r in rows] == [
        ("https://a.test/x?q=1#f", "first link"),
        ("https://b.test/y", "second"),
    ]
    assert all(r.srcUrl == "https://src.example.org/p" for r in rows)


def test_extract_links_hostile_markup(spark):
    # unclosed tags, nested elements inside the anchor (skipped: the
    # extractor takes textual anchors only), empty anchor text
    html = (
        '<a href="https://x.test/1"></a>'
        '<a href="https://x.test/2"><img src="z"/></a>'
        '<a href="https://x.test/3">ok</a><a href="broken'
    )
    rows = extract_links(_pages(spark, html)).collect()
    got = {(r.dstUrl, r.anchorText) for r in rows}
    assert ("https://x.test/1", "") in got
    assert ("https://x.test/3", "ok") in got
    # nested-markup anchor is not a textual anchor; truncated tag dropped
    assert all("broken" not in r.dstUrl for r in rows)


@pytest.mark.parametrize(
    "raw,want",
    [
        ("https://A.Test/Path/#frag", "https://a.test/path"),
        ("https://a.test/p?utm_source=x&id=1", "https://a.test/p?id=1"),
        ("https://a.test/p?id=1&utm_medium=m&ref=r", "https://a.test/p?id=1"),
        ("https://a.test/p?utm_source=x&ref=1#s", "https://a.test/p"),
        ("https://a.test/p?fbclid=abc", "https://a.test/p"),
        ("https://a.test/", "https://a.test"),
        ("https://a.test/p?id=1", "https://a.test/p?id=1"),
    ],
)
def test_canonical_url_cases(spark, raw, want):
    got = (
        spark.createDataFrame([Row(u=raw)])
        .select(canonical_url(F.col("u")).alias("c"))
        .first()
        .c
    )
    assert got == want


def test_synth_links_capped_and_ordered(spark):
    docs = spark.createDataFrame(
        [
            Row(
                doc_id=7,
                text="alpha1 beta22 alpha1 gamma3 tiny delta4 epsil5 zeta66 eta777",
                source="src3",
            )
        ],
        "doc_id long, text string, source string",
    )
    links = extract_links(synth_link_pages(docs)).collect()
    # distinct >=5-char words, first-occurrence order, capped at 6;
    # doc_id 7 % 3 == 1 selects the uppercase alias surface
    assert [r.anchorText for r in links] == [
        "ALPHA1", "BETA22", "GAMMA3", "DELTA4", "EPSIL5", "ZETA66",
    ]
    assert links[0].srcUrl == "https://src3.example.org/doc-7"
    assert links[0].dstUrl.startswith(
        "https://alpha1.example.net/wiki/alpha1?utm_source=src3&ref=7"
    )


def test_extraction_is_jvm_only(spark):
    df = extract_links(synth_link_pages(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def test_host_graph_shuffles_bounded(spark):
    # nLinks alone would be one exchange; countDistinct(srcUrl) adds
    # the distinct-rewrite's second (both partial-aggregated map-side,
    # both on host keys — no corpus-width shuffle). Guard the bound so
    # a regression to 3+ exchanges is caught.
    df = host_graph(extract_links(synth_link_pages(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2


def test_url_host(spark):
    got = (
        spark.createDataFrame([Row(u="https://h.example.net/wiki/x?q=1")])
        .select(url_host(F.col("u")).alias("h"))
        .first()
        .h
    )
    assert got == "h.example.net"


def _toy_edges(spark):
    # a -> b, a -> c, b -> c ; c dangling
    return spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 1), ("b", "c", 3)],
        "src string, dst string, w int",
    )


def test_pagerank_directed_mass_conserved(spark):
    from datashare_extension_neo4j_spark.operators.graph_algos import (
        pagerank_directed,
    )

    pr = pagerank_directed(_toy_edges(spark), weight="w", iterations=8)
    ranks = {r.node: r.rank for r in pr.collect()}
    # normalized formulation: total mass stays ~1 (rounding noise only)
    assert abs(sum(ranks.values()) - 1.0) < 1e-3
    # c receives from both a and b plus never emits: highest rank
    assert ranks["c"] > ranks["b"] > 0
    assert ranks["a"] > 0


def test_pagerank_directed_weight_sensitivity(spark):
    from datashare_extension_neo4j_spark.operators.graph_algos import (
        pagerank_directed,
    )

    # b -> c carries 3x the weight of b -> d: c must outrank d
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 3), ("b", "d", 1)],
        "src string, dst string, w int",
    )
    ranks = {
        r.node: r.rank
        for r in pagerank_directed(edges, weight="w", iterations=6).collect()
    }
    assert ranks["c"] > ranks["d"]


def test_pagerank_directed_deterministic_across_partitioning(spark):
    from datashare_extension_neo4j_spark.operators.graph_algos import (
        pagerank_directed,
    )

    e = _toy_edges(spark)
    a = sorted(map(tuple, pagerank_directed(e, weight="w").collect()))
    b = sorted(
        map(tuple, pagerank_directed(e.repartition(7), weight="w").collect())
    )
    assert a == b


def test_extract_links_resolves_relative(spark):
    html = (
        '<a href="/abs/path">a</a>'
        '<a href="rel.html">b</a>'
        '<a href="//other.test/x">c</a>'
        '<a href="https://full.test/y">d</a>'
        '<a href="mailto:x@y.z">e</a>'
        '<a href="javascript:void(0)">f</a>'
        '<a href="#frag">g</a>'
        '<a href="">h</a>'
    )
    pages = spark.createDataFrame(
        [("https://src.example.org/dir/page.html?q=1", html.encode())],
        "url string, html binary",
    )
    got = {(r.anchorText, r.dstUrl) for r in extract_links(pages).collect()}
    assert got == {
        ("a", "https://src.example.org/abs/path"),
        ("b", "https://src.example.org/dir/rel.html"),
        ("c", "https://other.test/x"),
        ("d", "https://full.test/y"),
    }


def test_extract_links_relative_from_bare_origin(spark):
    pages = spark.createDataFrame(
        [("https://src.example.org", b'<a href="p.html">x</a>')],
        "url string, html binary",
    )
    rows = extract_links(pages).collect()
    assert rows[0].dstUrl == "https://src.example.org/p.html"


def test_hits_hub_vs_authority(spark):
    from datashare_extension_neo4j_spark.operators.graph_algos import hits

    # star: a links to b, c, d — a is the pure hub, b/c/d equal
    # authorities with zero hub score
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d")], "src string, dst string"
    )
    rows = {r.node: (r.hub, r.authority) for r in hits(edges).collect()}
    assert rows["a"][0] == 1.0 and rows["a"][1] == 0.0
    assert rows["b"] == rows["c"] == rows["d"]
    assert abs(rows["b"][1] - 1 / 3) < 1e-5 and rows["b"][0] == 0.0


def test_extract_links_streaming_composable(spark, tmp_path):
    """Link extraction is pure column expressions, so it composes
    directly onto readStream — the continuous-crawl ingestion shape."""
    from datashare_extension_neo4j_spark.operators.weblinks import (
        extract_links as _el,
        synth_link_pages as _sp,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    _sp(docs.where("doc_id < 50")).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    q = (
        _el(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    want = _el(_sp(docs.where("doc_id < 50")))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_extract_links_unicode_and_hostile_hrefs(spark):
    html = (
        '<a href="https://bücher.test/päth?q=ü">ünïcode</a>'
        '<a href="https://x.test/a b">space</a>'
        '<a href="HTTPS://UPPER.TEST/P">upper-scheme</a>'
        '<a href="https://y.test/%22quoted%22">pct</a>'
    )
    pages = spark.createDataFrame(
        [("https://src.test/p", html.encode())],
        "url string, html binary",
    )
    got = {r.anchorText: r.dstUrl for r in extract_links(pages).collect()}
    assert got["ünïcode"] == "https://bücher.test/päth?q=ü"
    assert got["space"] == "https://x.test/a b"
    # "HTTPS://..." does not match ^https?:// (case-sensitive) but IS
    # a scheme-shaped href, so it is dropped rather than treated as a
    # relative path — no mangled base_dir join
    assert "upper-scheme" not in got
    assert got["pct"] == "https://y.test/%22quoted%22"


def test_canonical_url_unicode_passthrough(spark):
    got = (
        spark.createDataFrame([Row(u="https://bücher.test/Päth/#f")])
        .select(canonical_url(F.col("u")).alias("c"))
        .first()
        .c
    )
    assert got == "https://bücher.test/päth"
