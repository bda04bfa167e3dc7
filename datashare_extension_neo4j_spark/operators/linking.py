"""Entity-link scoring: mention → best candidate entity with a score.

The reference's pipeline materializes mentions as entities keyed on
(mentionNorm, category) (neo4j-app/neo4j_app/core/elasticsearch/
to_neo4j.py:196-217 — exact-key linking); this operator adds the
scored-linking step a web-scale KG build needs when mention surface
forms are noisy: candidate entities are generated by CHARACTER-BIGRAM
BLOCKING (a bucket join — never an all-pairs cross join) and ranked by
``jaccard(bigrams(mention), bigrams(entity)) · (1 + ln(1 + df))``
where df = the entity's distinct-document frequency (a popularity
prior). Deterministic ties break on entity norm.

Scoring is pure column math, so the default path stays JVM-side
(whole-stage codegen) — UDFs are the slow path. ``score_links_udf``
provides the same scores through a vectorized pandas UDF: the slot a
learned linking model (bi-encoder similarity etc.) plugs into without
touching the blocking/ranking plumbing; the two paths are asserted
equal in tests.

Scale shape: blocking explodes per-norm bigrams (norm-distinct, not
mention-occurrence) and joins on (category, bigram); hot bigram
buckets ('an', 'er' at web scale) are capped on the entity side before
the join — same degenerate-blowup guard family as the LSH hot-bucket
cap, and the cap is mirrored into the DuckDB oracle from the same
constant. The per-occurrence mention stream only joins the per-norm
winner at the end (norm-cardinality work, occurrence-cardinality only
in the final hash join).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from ..checkpoints import keep

LINK_MAX_BIGRAM_BUCKET = 1000  # entities sharing one (category, bigram)


def char_bigrams(col: Column) -> Column:
    """Distinct character bigrams of ^text$ (boundary-marked, so
    single-char norms still produce signal). Codepoint-based on both
    engines (ASCII-safe; document non-BMP caveats at the call site)."""
    s = F.concat(F.lit("^"), col, F.lit("$"))
    ch = F.split(s, "")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.length(s) - 2),
            lambda i: F.concat(
                F.element_at(ch, i + 1), F.element_at(ch, i + 2)
            ),
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b)) / F.size(
        F.array_distinct(F.concat(a, b))
    )


def link_mentions(
    mentions: DataFrame,
    max_bucket: int = LINK_MAX_BIGRAM_BUCKET,
    scorer: str = "column",
    entities: DataFrame | None = None,
) -> DataFrame:
    """(mention_id, documentId, mentionNorm, category, ...) → one row
    per mention with its best-scored entity link; mentions no
    candidate survives for come back with a null link (NIL), never
    silently dropped.

    ``entities`` is the candidate knowledge base — (entNorm, category,
    df) rows; when None it is derived from the mention stream itself
    (every distinct surface form becomes an entity, so exact mentions
    self-link — the reference's exact-key behavior, with scoring
    machinery on top). Pass an external KB to resolve noisy surface
    forms against canonical entities (test:
    test_near_miss_surface_form_links_to_closest_entity).

    ``scorer="column"`` (default) computes scores as JVM expressions;
    ``scorer="udf"`` routes the identical formula through a vectorized
    pandas UDF (the learned-model slot). Identical outputs."""
    from ..functions.hashing import entity_id

    if entities is None:
        # vocab-sized (one row per distinct surface form), consumed by
        # THREE branches below (entity side, mention side, bucket
        # sizing) — materialize it once: column pruning specializes
        # each branch's aggregate differently (df pruned where
        # unused), the canonical plans stop matching, ReuseExchange
        # can't fire, and the unmaterialized plan re-aggregates the
        # full mention stream per branch. Lazy checkpoint = no extra
        # job; all branches share the one materialized RDD.
        ents = keep(mentions.groupBy(
            F.col("mentionNorm").alias("entNorm"), "category"
        ).agg(
            F.countDistinct("documentId").cast("long").alias("df")
        ), eager=False)
    else:
        # same multi-branch consumption below — an external KB may
        # itself be an expensive plan (e.g. a store-wide APPEARS_IN
        # aggregate), so materialize it once too
        ents = keep(entities, eager=False)
    # df rides along the exploded bigrams (functionally dependent on
    # the entity key), so no second join against ``ents`` is needed
    # downstream
    eb = ents.select(
        "entNorm", "category", "df",
        F.explode(char_bigrams(F.col("entNorm"))).alias("bg"),
    )
    # self-derived entities: the distinct surface-form set IS the
    # entity key set — the mention side is a projection of the same
    # exploded frame, not a second full pass over the mention stream
    nb = (
        eb.select(
            F.col("entNorm").alias("mentionNorm"), "category", "bg"
        )
        if entities is None
        else mentions.select("mentionNorm", "category")
        .distinct()
        .select(
            "mentionNorm", "category",
            F.explode(char_bigrams(F.col("mentionNorm"))).alias("bg"),
        )
    )
    kept = eb.groupBy("category", "bg").agg(
        F.count("*").alias("_bsz")
    ).where(F.col("_bsz") <= max_bucket).select("category", "bg")
    cand = (
        nb.join(eb.join(kept, ["category", "bg"]), ["category", "bg"])
        .select("mentionNorm", "category", "entNorm", "df")
        .distinct()
    )
    if scorer == "udf":
        scored = cand.withColumn(
            "score",
            _score_udf(F.col("mentionNorm"), F.col("entNorm"), F.col("df")),
        )
    else:
        scored = cand.withColumn(
            "score",
            F.round(
                jaccard(
                    char_bigrams(F.col("mentionNorm")),
                    char_bigrams(F.col("entNorm")),
                )
                * (F.lit(1.0) + F.log(F.lit(1.0) + F.col("df"))),
                6,
            ),
        )
    win = W.partitionBy("mentionNorm", "category").orderBy(
        F.desc("score"), F.asc("entNorm")
    )
    best = (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") == 1)
        .select("mentionNorm", "category", "entNorm", "score")
    )
    # LEFT join: a mention with no surviving candidate (category
    # absent from the KB, no shared bigram bucket, or every shared
    # bucket hot-capped) keeps its row with a null link — a NIL
    # mention the caller can count or re-queue, never a silent drop
    return mentions.join(best, ["mentionNorm", "category"], "left").select(
        "mention_id",
        "documentId",
        "mentionNorm",
        "category",
        entity_id(F.col("entNorm"), F.col("category")).alias("entityId"),
        F.col("entNorm").alias("linkedNorm"),
        "score",
    )


# DataType object, not a DDL string: string types are parsed against
# the active SparkContext at decoration time, which would make this
# module un-importable before a session exists (the oracle generator
# imports it at queries.py import)
@F.pandas_udf(T.DoubleType())
def _score_udf(
    norm: pd.Series, ent: pd.Series, df: pd.Series
) -> pd.Series:
    """Vectorized replica of the column scorer — the pluggable slot a
    learned similarity model drops into (same Arrow-batched signature,
    same blocking/ranking around it)."""
    import math

    def bigrams(s: str) -> set:
        t = f"^{s}$"
        return {t[i : i + 2] for i in range(len(t) - 1)}

    out = []
    for n, e, d in zip(norm, ent, df):
        # null in any input → null score, mirroring the column
        # scorer's JVM null propagation (external KBs are arbitrary
        # user parquet — nulls must not crash or score as 'None')
        if n is None or e is None or pd.isna(d):
            out.append(None)
            continue
        a, b = bigrams(n), bigrams(e)
        jac = len(a & b) / len(a | b)
        x = jac * (1.0 + math.log(1.0 + float(d)))
        # HALF_UP like Spark's round() — Python round() is half-even
        out.append(math.floor(x * 1e6 + 0.5) / 1e6)
    return pd.Series(out)
