"""HTML → text extraction + page parsing (the Arrow-batched hot path).

The reference consumes pre-extracted documents from Elasticsearch (its
extractor is upstream Datashare/Tika). Our engine owns this stage: a
deterministic HTML text extractor whose output is the **hard per-row
invariant** — byte-identical text per url across runs, partitionings,
and parallelism levels (BASELINE.json:15).

Extractor spec (deterministic, stdlib-only):
  * parse with html.parser, convert_charrefs=True
  * drop <head>, <script>, <style> content entirely
  * every text node inside <body> is stripped; non-empty nodes are
    joined with a single "\\n"

Page parsing also recovers document fields from ``<meta name="ds:...">``
markup and mentions from ``<span class="ne" ...>`` annotations (the
fixture generator's carrier for reference-corpus parity — mirrors how
the reference receives documents + named entities as two pre-extracted
ES hit streams, reference
neo4j-app/neo4j_app/core/elasticsearch/to_neo4j.py:53-67,185-193).

A mention has ONE record inside the kernel, ``_MENTION_STRUCT``: the
reference NE hit (constants.py:95-107) minus its document id, with
``offsets`` as ``array<long>`` and the email header flat. Annotated
spans (``_parse_one``) and rule NER (``ner._extract_doc``) both emit
it; ``parse_pages`` concatenates the two lists and aggregates them
once per page into the APPEARS_IN / SENT / RECEIVED edge carrier
(``aggregate_doc_edges``).

Everything runs in ``mapInPandas`` — one parse per page, one pass, no
per-row Python UDF round trips; the output carries mentions and edges
as array columns so a single scan feeds the document, mention and
edge streams (explode later, after the cheap filter).
"""

from __future__ import annotations

import json
from html.parser import HTMLParser
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..constants import (
    EMAIL_HEADER,
    EMAIL_RECEIVED_TYPE,
    EMAIL_SENT_TYPE,
    RECEIVED_EMAIL_HEADERS,
    SENT_EMAIL_HEADERS,
)

_SKIP_TAGS = {"script", "style", "head"}


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self._skip_depth = 0
        self.metas: dict[str, str] = {}
        self.mentions: list[dict] = []

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        if tag == "meta":
            d = dict(attrs)
            name = d.get("name", "")
            if name.startswith("ds:"):
                self.metas[name[3:]] = d.get("content", "")
        elif tag == "span":
            d = dict(attrs)
            if d.get("class") == "ne":
                self.mentions.append(d)

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)
        if tag in _SKIP_TAGS:
            self._skip_depth -= 1

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data):
        if self._skip_depth:
            return
        data = data.strip()
        if data:
            self.blocks.append(data)


# the one mention record: the email header is flattened out of the
# reference's metadata map — nested maps inside arrays are
# disproportionately expensive to cache/encode JVM-side
_MENTION_STRUCT = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("mention", T.StringType()),
        T.StructField("mentionNorm", T.StringType()),
        T.StructField("extractor", T.StringType()),
        T.StructField("extractorLanguage", T.StringType()),
        T.StructField("offsets", T.ArrayType(T.LongType())),
        T.StructField("emailHeaderField", T.StringType()),
    ]
)

# per-doc pre-aggregated APPEARS_IN/SENT/RECEIVED edge struct: the
# aggregation key (mentionNorm, category, documentId) never crosses
# documents (reference imports.py:751-798), so the whole reduction
# completes inside the parse pass — zero shuffle for edge emission.
# Array fields are sorted (and, except ids, deduped) arrays in the
# stored edge shape, so values holding '|' or '' survive intact.
_EDGE_STRUCT = T.StructType(
    [
        T.StructField("category", T.StringType()),
        T.StructField("mentionNorm", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("mentionIds", T.ArrayType(T.StringType())),
        T.StructField("mentionExtractors", T.ArrayType(T.StringType())),
        T.StructField("extractorLanguage", T.StringType()),
        T.StructField("offsets", T.ArrayType(T.LongType())),
        T.StructField("mentionCount", T.IntegerType()),
        T.StructField("fields", T.ArrayType(T.StringType())),
    ]
)


def aggregate_doc_edges(mentions: list[dict]) -> list[dict]:
    """Per-document edge aggregation (A1/A2/A3/A7 semantics), pure
    python over one doc's mention list. Mirrors the reference's
    buffers: APPEARS_IN keyed on (norm, category); SENT/RECEIVED keyed
    on (norm, category, type); ids sorted, extractors/offsets/fields
    sorted sets; mentionCount = len(ids)."""
    appears: dict[tuple, dict] = {}
    emails: dict[tuple, dict] = {}
    for m in mentions:
        key = (m["mentionNorm"], m["category"])
        a = appears.setdefault(
            key,
            {"ids": [], "extractors": set(), "offsets": set(), "lang": None},
        )
        a["ids"].append(m["id"])
        if m["extractor"] is not None:
            a["extractors"].add(m["extractor"])
        a["offsets"].update(m["offsets"])
        # min over languages: deterministic under ANY mention order,
        # matching the groupBy paths (F.min) — 'first seen' depends on
        # partition/markup order and broke the byte-identical invariant
        ml = m["extractorLanguage"]
        if ml is not None and (a["lang"] is None or ml < a["lang"]):
            a["lang"] = ml
        hdr = m["emailHeaderField"]
        if hdr in SENT_EMAIL_HEADERS:
            etype = EMAIL_SENT_TYPE
        elif hdr in RECEIVED_EMAIL_HEADERS:
            etype = EMAIL_RECEIVED_TYPE
        else:
            etype = None
        if etype is not None:
            e = emails.setdefault(key + (etype,), {"fields": set()})
            e["fields"].add(hdr)
    out = []
    for (norm, cat), a in sorted(appears.items()):
        out.append(
            {
                "category": cat,
                "mentionNorm": norm,
                "type": "APPEARS_IN",
                "mentionIds": sorted(a["ids"]),
                "mentionExtractors": sorted(a["extractors"]),
                "extractorLanguage": a["lang"],
                "offsets": sorted(a["offsets"]),
                "mentionCount": len(a["ids"]),
                "fields": None,
            }
        )
    for (norm, cat, etype), e in sorted(emails.items()):
        out.append(
            {
                "category": cat,
                "mentionNorm": norm,
                "type": etype,
                "mentionIds": None,
                "mentionExtractors": None,
                "extractorLanguage": None,
                "offsets": None,
                "mentionCount": None,
                "fields": sorted(e["fields"]),
            }
        )
    return out


PARSED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("lang", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("rootDocument", T.StringType()),
        T.StructField("dirname", T.StringType()),
        T.StructField("contentType", T.StringType()),
        T.StructField("contentLength", T.LongType()),
        T.StructField("extractionDate", T.StringType()),
        T.StructField("extractionLevel", T.LongType()),
        T.StructField("path", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
        T.StructField("ann_mentions", T.ArrayType(_MENTION_STRUCT)),
        T.StructField("ann_edges", T.ArrayType(_EDGE_STRUCT)),
    ]
)


def _int_tokens(raw: str) -> list[int]:
    """The ';'-separated tokens of a data-offsets attribute that are
    64-bit integers; anything else in hostile markup is not an offset
    and is dropped, so no later cast or int() can fail the job."""
    out = []
    for tok in raw.split(";"):
        try:
            v = int(tok)
        except ValueError:
            continue
        if -(2**63) <= v < 2**63:
            out.append(v)
    return out


def _email_header(raw: str | None) -> str | None:
    """The emailHeaderField of a span's data-metadata JSON. Hostile
    markup — not JSON, not an object, a non-string header — carries
    no header, so the mention and its APPEARS_IN edge stay and no
    later conversion can fail the job."""
    if raw is None:
        return None
    try:
        md = json.loads(raw)
    except (ValueError, RecursionError):
        return None
    hdr = md.get(EMAIL_HEADER) if isinstance(md, dict) else None
    return hdr if isinstance(hdr, str) else None


def _parse_one(url, warc_ts, html, text, lang) -> dict:
    """One page → one parsed row whose ``ann_mentions`` holds the
    annotated spans; ``ann_edges`` is left to ``parse_pages``, which
    aggregates once per page after rule NER has appended its own."""
    p = _Extractor()
    raw = html.decode("utf-8", errors="replace") if html is not None else ""
    p.feed(raw)
    extracted = "\n".join(p.blocks)
    if text is not None and not (isinstance(text, float) and pd.isna(text)):
        extracted = text  # extraction skipped when text already populated
    m = p.metas
    path = m.get("path") or url.split("://", 1)[-1]
    doc_meta = {k[5:]: v for k, v in m.items() if k.startswith("meta:")}
    mentions = []
    for sp in p.mentions:
        if not (sp.get("data-id") and sp.get("data-norm") and sp.get("data-category")):
            # hostile/partial markup: a span missing its identity is
            # not a mention — drop it rather than crash downstream
            # (None norms are unsortable in aggregate_doc_edges and
            # violate MENTION_SCHEMA's non-null fields)
            continue
        mentions.append(
            {
                "id": sp.get("data-id"),
                "category": sp.get("data-category"),
                "mention": sp.get("data-mention", sp.get("data-id")),
                "mentionNorm": sp.get("data-norm"),
                "extractor": sp.get("data-extractor"),
                "extractorLanguage": sp.get("data-lang", "en"),
                "offsets": _int_tokens(sp.get("data-offsets", "")),
                "emailHeaderField": _email_header(sp.get("data-metadata")),
            }
        )
    return {
        "url": url,
        "warc_ts": warc_ts,
        "lang": lang,
        "text": extracted,
        "id": m.get("id") or url,
        "rootDocument": m.get("root") or None,
        "dirname": m.get("dirname") or path.rsplit("/", 1)[0],
        "contentType": m.get("contentType") or "text/html",
        "contentLength": int(m["contentLength"])
        if "contentLength" in m
        else (len(html) if html is not None else 0),
        # pd.isna guard: a null timestamp arrives as pd.NaT, which is
        # not None and whose isoformat() is the literal string 'NaT'
        "extractionDate": m.get("extractionDate")
        or (warc_ts.isoformat() if not pd.isna(warc_ts) else None),
        "extractionLevel": int(m.get("extractionLevel", "0")),
        "path": path,
        "title": m.get("title") or None,
        "metadata": doc_meta or None,
        "ann_mentions": mentions,
    }


def parse_pages(
    pages: DataFrame,
    include_text: bool = True,
    ner_gazetteer: dict | None = None,
    emit_mentions: bool = True,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → parsed document rows.

    One mapInPandas pass: text extraction + ds: metadata + inline
    mention annotations. Column pruning still applies upstream (the
    scan reads only the 5 page columns); downstream consumers select
    subsets of PARSED_SCHEMA.

    ``ner_gazetteer`` fuses rule-based NER (regex emails + gazetteer)
    into the same pass, appending its records to ann_mentions — one
    scan over the html instead of a second text-consuming stage. Each
    page's mentions, both sources together, are aggregated into
    ann_edges once. With
    ``include_text=False`` the (large) text column is dropped from the
    output, cutting Arrow transfer + downstream width by ~70%; the
    byte-identical text invariant is still exercised because mention
    offsets are computed against the extracted text in-pass. The graph
    build passes both False; the full output is the operator reference
    (``annotated_mentions(parse_pages(pages))``) the tests compare
    against.
    """
    drop = set()
    if not include_text:
        drop.add("text")
    if not emit_mentions:
        # edge emission uses the pre-aggregated ann_edges only; the
        # raw mention array is dead weight on the Arrow/parquet path
        drop.add("ann_mentions")
    schema = T.StructType([f for f in PARSED_SCHEMA.fields if f.name not in drop])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .ner import _extract_doc  # late import: executor-side

        for pdf in batches:
            rows = []
            for u, ts, h, tx, lg in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"], pdf["lang"]
            ):
                row = _parse_one(u, ts, h, tx, lg)
                if ner_gazetteer is not None:
                    row["ann_mentions"] += _extract_doc(
                        row["id"], row["text"], row["lang"], ner_gazetteer
                    )
                row["ann_edges"] = aggregate_doc_edges(row["ann_mentions"])
                for d in drop:
                    row.pop(d)
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return pages.mapInPandas(run, schema)

