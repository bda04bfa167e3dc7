"""Triple emission — APPEARS_IN / SENT / RECEIVED edge aggregation
(A1/A2/A3/A7).

Reference semantics (neo4j-app/neo4j_app/core/imports.py:751-798 +
core/elasticsearch/to_neo4j.py:266-294):
  * APPEARS_IN: group mentions by ((mentionNorm, category), docId);
    mentionIds = sorted(collected ids), mentionExtractors =
    sorted(set), offsets = sorted(set(flattened)), extractorLanguage =
    first; mentionCount = size(mentionIds) (named_entities.py:97)
  * SENT/RECEIVED: same key + relationship type; type classified by
    metadata.emailHeaderField ∈ SENT/RECEIVED header sets
    (constants.py:70-76, to_neo4j.py:235-249); fields = sorted(set)
  * start = entity id (sha256 tuple repr), end = documentId

The reference achieves bounded memory by pre-sorting mentions per doc
id ES-side and flushing buffers on key change (imports.py:664-737) —
in Spark that whole mechanism IS hash aggregation with spill; the
semantic content is just the groupBy below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import (
    EMAIL_HEADER,
    EMAIL_RECEIVED_TYPE,
    EMAIL_SENT_TYPE,
    NE_APPEARS_IN_DOC,
    RECEIVED_EMAIL_HEADERS,
    SENT_EMAIL_HEADERS,
)
from ..functions.hashing import entity_id

_KEY = ["mentionNorm", "category", "documentId"]


def appears_in_edges(mentions: DataFrame) -> DataFrame:
    """(entity)-[:APPEARS_IN {mentionIds, mentionExtractors,
    extractorLanguage, offsets, mentionCount}]->(doc)."""
    grouped = mentions.groupBy(*_KEY).agg(
        F.collect_list("id").alias("_ids"),
        F.collect_set("extractor").alias("_extractors"),
        F.flatten(F.collect_list("offsets")).alias("_offsets"),
        F.min("extractorLanguage").alias("_lang"),
    )
    return grouped.select(
        "mentionNorm",
        "category",
        entity_id(F.col("mentionNorm"), F.col("category")).alias("startId"),
        F.col("documentId").alias("endId"),
        F.lit(NE_APPEARS_IN_DOC).alias("type"),
        F.array_sort("_ids").alias("mentionIds"),
        F.array_sort(F.array_distinct("_extractors")).alias("mentionExtractors"),
        F.array_sort(F.array_distinct("_offsets")).alias("offsets"),
        F.col("_lang").alias("extractorLanguage"),
        F.size(F.array_sort("_ids")).alias("mentionCount"),
    )


def email_rel_type() -> F.Column:
    """Classify metadata.emailHeaderField → SENT / RECEIVED / null."""
    hdr = F.col("metadata").getItem(EMAIL_HEADER)
    return (
        F.when(hdr.isin(*RECEIVED_EMAIL_HEADERS), F.lit(EMAIL_RECEIVED_TYPE))
        .when(hdr.isin(*SENT_EMAIL_HEADERS), F.lit(EMAIL_SENT_TYPE))
        .otherwise(F.lit(None).cast("string"))
    )


def email_edges(mentions: DataFrame) -> DataFrame:
    """(email entity)-[:SENT|RECEIVED {fields}]->(doc)."""
    typed = mentions.withColumn("type", email_rel_type()).where(
        F.col("type").isNotNull()
    )
    return (
        typed.groupBy(*_KEY, "type")
        .agg(
            F.array_sort(
                F.array_distinct(
                    F.collect_list(F.col("metadata").getItem(EMAIL_HEADER))
                )
            ).alias("fields")
        )
        .select(
            "mentionNorm",
            "category",
            entity_id(F.col("mentionNorm"), F.col("category")).alias("startId"),
            F.col("documentId").alias("endId"),
            "type",
            "fields",
        )
    )


def appears_in_from_parsed(parsed: DataFrame) -> DataFrame:
    """Shuffle-free APPEARS_IN emission from the per-doc pre-aggregated
    ann_edges carrier (extract.aggregate_doc_edges): the aggregation
    key (norm, category, doc) never crosses documents, so the whole
    reduction already happened inside the parse pass. This is a pure
    projection — at 10^12 docs there is NO edge shuffle at all."""
    e = parsed.select(
        F.col("id").alias("documentId"), F.explode("ann_edges").alias("e")
    ).where(F.col("e.type") == F.lit(NE_APPEARS_IN_DOC))
    return e.select(
        F.col("e.mentionNorm").alias("mentionNorm"),
        F.col("e.category").alias("category"),
        entity_id(F.col("e.mentionNorm"), F.col("e.category")).alias("startId"),
        F.col("documentId").alias("endId"),
        F.col("e.type").alias("type"),
        F.col("e.mentionIds").alias("mentionIds"),
        F.col("e.mentionExtractors").alias("mentionExtractors"),
        F.col("e.offsets").alias("offsets"),
        F.col("e.extractorLanguage").alias("extractorLanguage"),
        F.col("e.mentionCount").alias("mentionCount"),
    )


def email_edges_from_parsed(parsed: DataFrame) -> DataFrame:
    """Shuffle-free SENT/RECEIVED emission from ann_edges."""
    e = parsed.select(
        F.col("id").alias("documentId"), F.explode("ann_edges").alias("e")
    ).where(
        F.col("e.type").isin(EMAIL_SENT_TYPE, EMAIL_RECEIVED_TYPE)
    )
    return e.select(
        F.col("e.mentionNorm").alias("mentionNorm"),
        F.col("e.category").alias("category"),
        entity_id(F.col("e.mentionNorm"), F.col("e.category")).alias("startId"),
        F.col("documentId").alias("endId"),
        F.col("e.type").alias("type"),
        F.col("e.fields").alias("fields"),
    )


def email_user_domain(entities: DataFrame) -> DataFrame:
    """emailUser/emailDomain split for EMAIL entities (reference
    named_entities.py:52-65): only when splitting on '@' yields exactly
    two parts."""
    parts = F.split(F.col("mentionNorm"), "@")
    two = F.size(parts) == 2
    return entities.withColumn(
        "emailUser",
        F.when((F.col("category") == "EMAIL") & two, parts.getItem(0)),
    ).withColumn(
        "emailDomain",
        F.when((F.col("category") == "EMAIL") & two, parts.getItem(1)),
    )
