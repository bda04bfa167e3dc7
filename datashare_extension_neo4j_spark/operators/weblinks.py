"""Web link-graph operators — the hyperlink half of a Common-Crawl
KG: anchor extraction from page HTML, URL canonicalization, host-level
link-graph aggregation. Everything is JVM column expressions
(regexp_extract_all / parse_url / transform) — no Python in the row
path, so extraction rides whole-stage codegen next to the scan.

The reference materializes only the document/entity graph
(neo4j-app/neo4j_app/core/neo4j/documents.py); its corpus, though, is
web pages, and the link graph is the canonical web-scale KG companion
(host PageRank for crawl prioritization, canonical-URL dedup before
text dedup). These operators add that family Spark-first.

Scale shape: extraction is scan+project (zero shuffle); the host
graph is ONE groupBy on (srcHost, dstHost) — hosts are vocabulary-
scale, pages corpus-scale, so the agg output is tiny relative to the
input; canonicalization is in-row. Directed PageRank lives in
graph_algos.pagerank_directed (per-round localCheckpoint release).

The three rollups over the link stream — ``host_pagerank``,
``canonical_url_counts`` and ``anchor_aliases`` — are defined here
once; the registry queries and the ``weblinks`` CLI bundle both call
them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# deterministic link synthesis knobs (mirrored by the SQL oracles)
LINKS_PER_DOC = 6
MIN_LINK_WORD_LEN = 5

_ANCHOR_TAG_RE = '<a href="[^"]*"[^>]*>[^<]*</a>'
# query params dropped by canonicalization (the classic tracking set)
TRACKING_PARAM_RE = "(utm_[a-z]+|ref|fbclid|gclid)"


def synth_link_pages(docs: DataFrame) -> DataFrame:
    """Deterministic link-bearing pages from the documents table —
    pure column expressions, fully distributed (fixtures.py
    discipline). Each document becomes one page on host
    ``{source}.example.org`` whose <nav> holds one anchor per distinct
    ≥5-char word (first-occurrence order, first LINKS_PER_DOC), each
    pointing at ``https://{word}.example.net/wiki/{word}`` plus
    tracking params + fragment so canonicalization has real work.
    """
    i = F.col("doc_id")
    words = F.slice(
        F.array_distinct(
            F.filter(
                F.coalesce(
                    F.split(F.col("text"), " "),
                    F.array().cast("array<string>"),
                ),
                lambda w: F.length(w) >= MIN_LINK_WORD_LEN,
            )
        ),
        1,
        LINKS_PER_DOC,
    )
    # anchor surface varies by page (word / WORD / "word online") so the
    # same target URL accumulates several alias forms — the signal
    # web_anchor_aliases mines; rule mirrored in the SQL oracles
    surface = lambda w: (
        F.when(i % 3 == 0, w)
        .when(i % 3 == 1, F.upper(w))
        .otherwise(F.concat(w, F.lit(" online")))
    )
    anchors = F.transform(
        words,
        lambda w: F.concat(
            F.lit('<a href="https://'),
            w,
            F.lit(".example.net/wiki/"),
            w,
            F.lit("?utm_source="),
            F.col("source"),
            F.lit("&ref="),
            i,
            F.lit('#s1">'),
            surface(w),
            F.lit("</a>"),
        ),
    )
    html = F.concat(
        F.lit("<html><head><title>doc</title></head><body>\n<p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p>\n<nav>\n"),
        F.array_join(anchors, "\n"),
        F.lit("\n</nav>\n</body></html>"),
    )
    return docs.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.org/doc-"),
            i,
        ).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )


def _resolve_href(src: Column, href: Column) -> Column:
    """Absolute URL for ``href`` against base ``src`` — the browser
    resolution rules for the shapes that matter in a crawl:
    absolute http(s) kept as-is; ``//host/...`` inherits the source
    scheme; ``/path`` is host-relative; anything else is resolved
    against the source URL's directory. Non-web schemes (mailto:,
    javascript:, data:, ftp:, ...) and empty/fragment-only hrefs
    resolve to NULL so callers can drop them."""
    scheme = F.regexp_extract(src, "^(https?)://", 1)
    origin = F.regexp_extract(src, "^(https?://[^/]+)", 1)
    # source directory: strip query/fragment, give a bare origin its
    # trailing slash, then drop the last path segment
    clean = F.regexp_replace(src, "[?#].*", "")
    with_slash = F.regexp_replace(clean, "^(https?://[^/]+)$", "$1/")
    base_dir = F.regexp_replace(with_slash, "[^/]*$", "")
    return (
        F.when(href.rlike("^https?://"), href)
        .when(href.rlike("^//"), F.concat(scheme, F.lit(":"), href))
        .when(href.rlike("^/"), F.concat(origin, href))
        .when(
            href.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:"),
            F.lit(None).cast("string"),  # non-web scheme
        )
        .when(
            (href == "") | href.startswith("#"), F.lit(None).cast("string")
        )
        .otherwise(F.concat(base_dir, href))
    )


def extract_links(pages: DataFrame) -> DataFrame:
    """(srcUrl, dstUrl, anchorText) stream from page HTML bytes.

    Real extraction — anchors are pulled from the markup with
    regexp_extract_all, then href/text split per tag inside a
    ``transform`` lambda (still JVM expressions; one pass over the
    bytes, no Python). One output row per anchor occurrence. hrefs
    are resolved to absolute URLs against the page URL (relative and
    scheme-relative forms included); non-web schemes (mailto:,
    javascript:, data:) and fragment-only anchors are dropped.
    """
    tags = F.regexp_extract_all(
        F.decode(F.col("html"), "utf-8"), F.lit(_ANCHOR_TAG_RE), 0
    )
    pairs = F.transform(
        tags,
        lambda t: F.struct(
            F.regexp_extract(t, 'href="([^"]*)"', 1).alias("href"),
            F.regexp_extract(t, ">([^<]*)</a>", 1).alias("anchorText"),
        ),
    )
    return (
        pages.select(F.col("url").alias("srcUrl"), pairs.alias("_p"))
        .select("srcUrl", F.explode("_p").alias("l"))
        .select(
            "srcUrl",
            _resolve_href(F.col("srcUrl"), F.col("l.href")).alias("dstUrl"),
            "l.anchorText",
        )
        .where(F.col("dstUrl").isNotNull())
    )


def canonical_url(url: Column) -> Column:
    """Canonical form of a URL: lowercase, fragment stripped, tracking
    params (utm_*/ref/fbclid/gclid) removed with delimiter repair,
    trailing ``?``/``&``/``/`` trimmed. Pure regexp chain. The oracles
    do not replay it: ``ORACLE_WEB_URL_CANONICAL`` derives the
    canonical form independently from the generation rule, so the
    chain's semantics are what the parity tests check.
    """
    u = F.lower(url)
    u = F.regexp_replace(u, "#.*", "")
    u = F.regexp_replace(u, "([?&])" + TRACKING_PARAM_RE + "=[^&]*", "$1")
    u = F.regexp_replace(u, r"\?&+", "?")
    u = F.regexp_replace(u, "&&+", "&")
    u = F.regexp_replace(u, "[?&]+$", "")
    return F.regexp_replace(u, "/$", "")


def url_host(url: Column) -> Column:
    return F.parse_url(url, F.lit("HOST"))


def host_graph(links: DataFrame) -> DataFrame:
    """(srcHost, dstHost, nLinks, nPages) — the aggregated host-level
    web graph. ONE shuffle on the host pair; output is host-vocabulary
    sized, not corpus sized."""
    return (
        links.select(
            url_host(F.col("srcUrl")).alias("srcHost"),
            url_host(F.col("dstUrl")).alias("dstHost"),
            "srcUrl",
        )
        .groupBy("srcHost", "dstHost")
        .agg(
            F.count("*").cast("long").alias("nLinks"),
            F.countDistinct("srcUrl").cast("long").alias("nPages"),
        )
    )


def host_pagerank(hg: DataFrame) -> DataFrame:
    """(host, pagerank): link-weighted directed PageRank over the host
    graph (dangling mass redistributed — terminal wiki hosts have no
    out-links), at pagerank_directed's fixed 5 rounds, damping 0.85
    and 6-digit rounding — the loop the web_host_pagerank oracle
    unrolls."""
    from .graph_algos import pagerank_directed

    return pagerank_directed(
        hg, src="srcHost", dst="dstHost", weight="nLinks"
    ).select(F.col("node").alias("host"), F.col("rank").alias("pagerank"))


def canonical_url_counts(links: DataFrame) -> DataFrame:
    """(url, nLinks, nSources): links and distinct source hosts per
    canonical target URL — the crawl-dedup prep rollup; one groupBy on
    the (vocabulary-scale) canonical URL."""
    return (
        links.select(
            canonical_url(F.col("dstUrl")).alias("url"),
            url_host(F.col("srcUrl")).alias("srcHost"),
        )
        .groupBy("url")
        .agg(
            F.count("*").cast("long").alias("nLinks"),
            F.countDistinct("srcHost").cast("long").alias("nSources"),
        )
    )


def anchor_aliases(links: DataFrame) -> DataFrame:
    """(url, aliases, nForms, nLinks): the sorted '|'-joined distinct
    anchor texts per canonical target URL — the alias table entity
    linking consumes ("batch" / "BATCH" / "batch online" → one
    target)."""
    return (
        links.select(canonical_url(F.col("dstUrl")).alias("url"), "anchorText")
        .groupBy("url")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("anchorText")), "|"
            ).alias("aliases"),
            F.countDistinct("anchorText").cast("long").alias("nForms"),
            F.count("*").cast("long").alias("nLinks"),
        )
    )
