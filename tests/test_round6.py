"""Round-6 optimization guards: the rewritten minhash internals and
the plan shapes the round's changes claim.

These lock in (a) value equivalence of the in-row n-gram builder vs
the r5 exploded bigram expression and the former Column-API n-gram
builder, (b) the cheap text predicate being exactly "has >= 1 valid
bigram", and (c) the plan shapes: scan-shaped signatures, join-free
mentions, Expand-free APPEARS_IN aggregation, a block-key-only
exact-Jaccard plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from datashare_extension_neo4j_spark.session import get_spark

    s = get_spark(app_name="test_round6", master="local[4]", shuffle_partitions=8)
    yield s


TRICKY_TEXTS = [
    (0, "plain two words"),
    (1, "double  space"),          # '' token between: no bigram across it
    (2, " leading and trailing "),
    (3, "single"),                 # no bigram
    (4, ""),                       # empty text
    (5, None),                     # null text
    (6, "a b a b a b"),            # duplicate shingles collapse
    (7, "x"),
    (8, "  "),                     # only empty tokens
    (9, "unicode éé ü tokens éé ü"),
    (10, "a,b c|d a,b"),           # separators inside tokens
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _old_shingles(docs):
    """The r5 expression (split re-evaluated inside the lambda),
    kept verbatim as the semantic reference."""
    tk = F.split(F.col("text"), " ")
    sh = F.when(
        F.size(tk) >= 2,
        F.expr(
            "filter(transform(sequence(0, size(split(text,' ')) - 2), "
            "i -> concat(split(text,' ')[i], ' ', split(text,' ')[i+1])), "
            "s -> s != ' ' and not s like '% ' and not s like ' %')"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select("doc_id", F.explode(sh).alias("shingle")).distinct()


# TRICKY_TEXTS plus the n-gram edge cases: runs of spaces at the
# ends and inside, a single token, quotes and '|' next to non-ASCII
NGRAM_TEXTS = TRICKY_TEXTS + [
    (11, "  lead  and   trail  words here  "),
    (12, "lonely"),
    (13, 'é ü "q" | x é ü "q" | x é'),
    (14, "a b c d e f g h i j k l m n o p a b c d e f g h i j k l m n o p"),
    (15, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12  w13 w14 w15 w16"),
]


def _ngram_reference(docs, n):
    """The Column-API n-gram builder decontaminate_ngram used before
    ngram_shingles, kept verbatim (with its xxhash64) as the semantic
    reference: (doc_id, hash) rows."""
    t = docs.select("doc_id", F.split(F.col("text"), " ").alias("_tk"))
    tk = F.col("_tk")
    grams = F.when(
        F.size(tk) >= n,
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - n),
                lambda i: F.slice(tk, i + 1, n),
            ),
            lambda arr: ~F.exists(arr, lambda w: w == ""),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    hashed = F.array_distinct(
        F.transform(grams, lambda arr: F.xxhash64(F.array_join(arr, " ")))
    )
    return t.select("doc_id", F.explode(hashed).alias("shingle"))


@pytest.mark.parametrize("n", [2, 3, 13])
def test_bigram_shingles_matches_r5_semantics(spark, n):
    from datashare_extension_neo4j_spark.functions.minhash import (
        ngram_shingles,
    )

    docs = _df(spark, NGRAM_TEXTS)
    tk = docs.select("doc_id", F.split("text", " ").alias("_tk"))
    new_rows = tk.select(
        "doc_id", F.explode(ngram_shingles("_tk", n)).alias("shingle")
    ).collect()
    new = {(r["doc_id"], r["shingle"]) for r in new_rows}
    # in-row distinctness: no duplicate (doc, shingle) pairs
    assert len(new_rows) == len(new)
    if n == 2:
        old = {(r["doc_id"], r["shingle"]) for r in _old_shingles(docs).collect()}
        assert new == old
    hashed = tk.select(
        "doc_id",
        F.explode(
            F.transform(ngram_shingles("_tk", n), lambda x: F.xxhash64(x))
        ).alias("shingle"),
    )
    ref = {(r["doc_id"], r["shingle"]) for r in _ngram_reference(docs, n).collect()}
    assert {(r["doc_id"], r["shingle"]) for r in hashed.collect()} == ref
    assert ref  # every width yields some shingle on these texts


@pytest.mark.parametrize("n", [0, -1])
def test_decontaminate_rejects_width_below_one(spark, n):
    """n=0 made every doc share the empty gram (all flagged as
    contaminated); n=-1 failed inside a task. Both are rejected when
    the query is built."""
    from datashare_extension_neo4j_spark.queries import decontaminate_ngram

    with pytest.raises(ValueError, match="n must be >= 1"):
        decontaminate_ngram(spark, SF_DIR, n=n)


def test_cheap_text_predicate_equals_has_bigram(spark):
    """text RLIKE '[^ ] [^ ]' must hold exactly when the doc has >= 1
    valid bigram — the predicate _shingle_arrays filters on instead of
    size(sh) > 0 (which pushdown would inline quadratically)."""
    from datashare_extension_neo4j_spark.functions.minhash import (
        ngram_shingles,
    )

    docs = _df(spark, TRICKY_TEXTS)
    both = (
        docs.select("doc_id", "text", F.split("text", " ").alias("_tk"))
        .select(
            "doc_id",
            F.coalesce(F.col("text").rlike("[^ ] [^ ]"), F.lit(False)).alias(
                "pred"
            ),
            (F.size(ngram_shingles("_tk", 2)) > 0).alias("has_bigram"),
        )
        .collect()
    )
    for r in both:
        assert r["pred"] == r["has_bigram"], r


def test_minhash_sig_is_scan_shaped(spark):
    """dedup_minhash_sig must carry no hash/range exchange: signature
    and band derivation are wholly in-row (the only exchange allowed
    is the scale-adaptive round-robin widen)."""
    import re

    from datashare_extension_neo4j_spark.queries import dedup_minhash_sig

    plan = (
        dedup_minhash_sig(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not re.search(r"Exchange (hash|range)partitioning", plan), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_jaccard_shuffles_only_the_block_key(spark):
    """dedup_ngram_jaccard's verifier attaches hashed shingle arrays
    to the blocked pairs: the only hash exchanges left are the block
    key's (window count and self-join); the exploded (doc, shingle)
    string joins and their count groupBy had 5 at sf0.001."""
    import re

    from datashare_extension_neo4j_spark.queries import dedup_ngram_jaccard

    plan = (
        dedup_ngram_jaccard(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"Exchange (hash|range)partitioning", plan)) <= 2, plan


def test_decontaminate_explodes_the_corpus_once(spark):
    """decontaminate_ngram takes a doc's shingle count as the size of
    its in-row hashed n-gram array: one Generate over the corpus and
    one over the eval set. Counting the shingles by a second explode
    and groupBy made three."""
    from datashare_extension_neo4j_spark.queries import decontaminate_ngram

    plan = (
        decontaminate_ngram(spark, SF_DIR, n=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Generate ") == 2, plan


def test_kg_mentions_is_join_free(spark):
    """The gazetteer is a literal map lookup since r6 — no join, no
    broadcast, no exchange in the mention stream."""
    from datashare_extension_neo4j_spark.queries import kg_mentions

    plan = (
        kg_mentions(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_kg_appears_in_has_no_expand(spark):
    """mentionCount now rides on the collected set — the distinct
    aggregate's Expand node (and its second exchange) must be gone."""
    import re

    from datashare_extension_neo4j_spark.queries import kg_appears_in

    plan = (
        kg_appears_in(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_pairs_hashed_intersection_matches_string_join(spark):
    """|A∩B| via xxhash64'd arrays must equal the exact string-set
    intersection for hostile shingle content."""
    rows = [
        (1, 'a "quote" b | c,d a "quote"'),
        (2, 'b | c,d a "quote" extra words'),
        (3, "unicode éé ü tokens éé ü"),
        (4, "unicode éé ü tokens something else"),
    ]
    from datashare_extension_neo4j_spark.functions.minhash import (
        ngram_shingles,
    )

    docs = _df(spark, rows)
    arr = docs.select(
        "doc_id", F.split("text", " ").alias("_tk")
    ).select("doc_id", ngram_shingles("_tk", 2).alias("sh"))
    pdf = {r["doc_id"]: set(r["sh"]) for r in arr.collect()}
    hashed = arr.select(
        "doc_id",
        F.transform(F.col("sh"), lambda x: F.xxhash64(x)).alias("shh"),
    )
    hpdf = {r["doc_id"]: r["shh"] for r in hashed.collect()}
    import itertools

    for a, b in itertools.combinations(sorted(pdf), 2):
        want = len(pdf[a] & pdf[b])
        got_rows = (
            spark.createDataFrame(
                [(hpdf[a], hpdf[b])], "x array<long>, y array<long>"
            )
            .select(F.size(F.array_intersect("x", "y")).alias("i"))
            .collect()
        )
        assert got_rows[0]["i"] == want, (a, b)
