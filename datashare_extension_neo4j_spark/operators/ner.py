"""Mention detection (NER) — two sources, one record.

Both sources emit ``extract._MENTION_STRUCT``, the one mention record
of the parse kernel (offsets ``array<long>``, email header flat), and
``annotated_mentions`` is the one place it becomes the reference's NE
hit shape (``schemas.MENTION_SCHEMA``, reference constants.py:95-107).

1. Inline annotations recovered by the parse stage. This mirrors the
   reference, which receives *pre-extracted* NamedEntity hits from
   Elasticsearch (reference
   neo4j-app/neo4j_app/core/elasticsearch/to_neo4j.py:185-193) — the
   FK to the hosting document is ``hit.join.parent``; ours is the page
   the annotation sits in.

2. ``_extract_doc`` — a real extraction path for raw web text:
   deterministic EMAIL regex + gazetteer PERSON/ORG/LOCATION matching
   with true character offsets. ``extract.parse_pages`` fuses it into
   the parse pass; ``rule_based_mentions`` runs it standalone over
   extracted documents, so goldens are stable and P/R vs the synthetic
   truth is exact.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constants import EMAIL_CATEGORY, EMAIL_HEADER
from .extract import PARSED_SCHEMA


def annotated_mentions(parsed: DataFrame) -> DataFrame:
    """Explode ann_mentions arrays into reference-shaped mention rows:
    the document id joins each record, and the flat email header
    becomes the reference's metadata map. Pure explode + projection,
    no Python."""
    m = parsed.select(
        F.col("id").alias("documentId"),
        F.explode("ann_mentions").alias("m"),
    )
    metadata = F.when(
        F.col("m.emailHeaderField").isNotNull(),
        F.create_map(
            F.lit(EMAIL_HEADER), F.col("m.emailHeaderField")
        ),
    )
    return m.select(
        F.col("m.id").alias("id"),
        "documentId",
        F.col("m.category").alias("category"),
        F.col("m.mention").alias("mention"),
        F.col("m.mentionNorm").alias("mentionNorm"),
        F.length("m.mentionNorm").cast("int").alias("mentionNormTextLength"),
        F.col("m.extractor").alias("extractor"),
        F.col("m.extractorLanguage").alias("extractorLanguage"),
        F.col("m.offsets").alias("offsets"),
        metadata.alias("metadata"),
    )


# --- rule-based extraction over raw text -------------------------------

_EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
_HEADER_RE = re.compile(r"^(From|To|Cc|Bcc):", re.MULTILINE)
_HEADER_TO_TIKA = {
    "From": "tika_metadata_message_from",
    "To": "tika_metadata_message_to",
    "Cc": "tika_metadata_message_cc",
    "Bcc": "tika_metadata_message_bcc",
}

# small deterministic gazetteer keyed on surface form (lower-cased)
DEFAULT_GAZETTEER = {
    "customer": "PERSON",
    "supplier": "PERSON",
    "spark": "ORGANIZATION",
    "window": "LOCATION",
    "table": "LOCATION",
    "vector": "ORGANIZATION",
    "stream": "LOCATION",
    "batch": "ORGANIZATION",
}

# (id, ann_mentions): the parse carrier narrowed to what NER fills
_CARRIER_SCHEMA = T.StructType(
    [PARSED_SCHEMA["id"], PARSED_SCHEMA["ann_mentions"]]
)


def gazetteer_re(gazetteer: dict | None) -> re.Pattern | None:
    """The gazetteer's terms as one case-insensitive alternation on word
    boundaries (None for an empty or absent gazetteer). Built once per
    gazetteer: callers pass it to every ``_extract_doc`` call."""
    if not gazetteer:
        return None
    return re.compile(
        r"\b(" + "|".join(re.escape(k) for k in sorted(gazetteer)) + r")\b",
        re.IGNORECASE,
    )


def _extract_doc(
    doc_id: str, text: str, lang: str, gazetteer: dict, terms: re.Pattern | None
) -> list[dict]:
    """Rule mentions of one document's text, as ``_MENTION_STRUCT``
    records; ``doc_id`` only namespaces the mention ids. ``terms`` is
    ``gazetteer_re(gazetteer)``."""
    if not text:
        return []
    found: dict[tuple, dict] = {}
    # emails, with the nearest preceding header token deciding SENT/RECEIVED
    headers = [(m.start(), m.group(1)) for m in _HEADER_RE.finditer(text)]
    for m in _EMAIL_RE.finditer(text):
        norm = m.group(0).lower()
        hdr = None
        for pos, name in headers:
            if pos <= m.start():
                hdr = name
            else:
                break
        key = (norm, EMAIL_CATEGORY, hdr)
        e = found.setdefault(
            key,
            {
                "category": EMAIL_CATEGORY,
                "mention": m.group(0),
                "mentionNorm": norm,
                "emailHeaderField": _HEADER_TO_TIKA.get(hdr),
                "offsets": [],
            },
        )
        e["offsets"].append(m.start())
    # gazetteer terms on word boundaries
    if terms is not None:
        for m in terms.finditer(text):
            norm = m.group(0).lower()
            cat = gazetteer[norm]
            key = (norm, cat, None)
            e = found.setdefault(
                key,
                {
                    "category": cat,
                    "mention": m.group(0),
                    "mentionNorm": norm,
                    "emailHeaderField": None,
                    "offsets": [],
                },
            )
            e["offsets"].append(m.start())
    rows = []
    for (norm, cat, hdr), e in sorted(found.items(), key=lambda kv: str(kv[0])):
        rows.append(
            {
                "id": f"{doc_id}-{cat}-{norm}" + (f"-{hdr}" if hdr else ""),
                "category": cat,
                "mention": e["mention"],
                "mentionNorm": norm,
                "extractor": "rule",
                "extractorLanguage": lang or "en",
                "offsets": e["offsets"],
                "emailHeaderField": e["emailHeaderField"],
            }
        )
    return rows


def rule_based_mentions(docs: DataFrame, gazetteer: dict | None = None) -> DataFrame:
    """Deterministic regex/gazetteer NER over extracted documents
    (id, text, lang): one carrier row per document, unpacked by
    ``annotated_mentions`` like the fused path's."""
    # matching is case-insensitive and lookups use the lower-cased hit,
    # so caller-supplied keys must be normalized too (a mixed-case key
    # like {'Apple': 'ORG'} would otherwise KeyError on the executor)
    gaz = {
        k.lower(): v
        for k, v in (DEFAULT_GAZETTEER if gazetteer is None else gazetteer).items()
    }
    terms = gazetteer_re(gaz)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "ann_mentions": [
                        _extract_doc(doc_id, text, lang, gaz, terms)
                        for doc_id, text, lang in zip(
                            pdf["id"], pdf["text"], pdf["lang"]
                        )
                    ],
                }
            )

    carriers = docs.select("id", "text", "lang").mapInPandas(run, _CARRIER_SCHEMA)
    return annotated_mentions(carriers)
