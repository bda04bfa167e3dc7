"""Round-4 additions: fixed-point ANN bucket assignment (engine-exact
→ full oracles), single-scan funnel, AQE-chosen dedup-assign join,
n-parameterized decontamination, bounded iterative-checkpoint storage,
and the multimodal embed→LSH near-dup pipeline.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------ fixed-point LSH/IVF


def test_lsh_literal_and_broadcast_signatures_identical(spark):
    """The literal form (lsh_signature) and the broadcast-data form
    (_with_lsh_signatures) must produce bit-identical signatures —
    both are the same fixed-point integer computation."""
    from datashare_extension_neo4j_spark.operators.similarity import (
        _with_lsh_signatures,
        lsh_signature,
    )

    dim, bits = 8, 6
    v = spark.range(50).selectExpr(
        "id as vec_id",
        f"transform(sequence(1, {dim}), "
        "i -> cast(sin(id * i + 0.1) as float)) as embedding",
    )
    lit = {
        r["vec_id"]: (r["s0"], r["s1"])
        for r in v.select(
            "vec_id",
            lsh_signature(F.col("embedding"), dim, bits, table=0).alias("s0"),
            lsh_signature(F.col("embedding"), dim, bits, table=1).alias("s1"),
        ).collect()
    }
    bc = {
        r["vec_id"]: (r["sig0"], r["sig1"])
        for r in _with_lsh_signatures(
            v, "embedding", dim, bits, tables=2, prefix="sig"
        ).collect()
    }
    assert lit == bc


def test_ann_topk_oracle_parity_including_buckets(spark):
    """ann_lsh_topk / ann_ivf_topk vs their DuckDB oracles — the
    oracle replays bucket assignment itself (fixed-point), not just
    the re-rank, so candidate sets must be engine-identical."""
    import duckdb

    from datashare_extension_neo4j_spark.queries import QUERIES

    con = duckdb.connect()
    con.execute(
        "create view embeddings as select * from "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    for name in ("ann_lsh_topk", "ann_ivf_topk"):
        fn, oracle = QUERIES[name]
        assert oracle is not None, f"{name} lost its oracle"
        got = fn(spark, SF_DIR).toPandas()
        want = con.execute(oracle).df()
        key = ["qid", "rank"]
        got = got.sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)
        assert len(got) == len(want) > 0, name
        # astype: Spark row_number is int32, DuckDB's is int64 — the
        # driver's canon stringifies values, so only values matter
        assert (
            got[["qid", "nid", "rank"]].astype("int64").values.tolist()
            == want[["qid", "nid", "rank"]].astype("int64").values.tolist()
        ), f"{name}: candidate/ranking divergence"
        assert (got["cosine"] - want["cosine"]).abs().max() == 0.0, name


# --------------------------------------------------- multimodal ANN


def test_media_embed_neardup_finds_identical_prefixes(spark):
    """Docs sharing an identical 64-char prefix embed identically →
    cosine 1.0 pairs; LSH must surface them (identical vectors share
    every bucket) and the DuckDB oracle must replay the pipeline."""
    import duckdb

    from datashare_extension_neo4j_spark.queries import (
        ORACLE_MEDIA_EMBED_NEARDUP,
        media_embed_neardup,
    )

    got = media_embed_neardup(spark, SF_DIR).toPandas()
    assert len(got) > 0
    assert (got["cosine"] >= 0.99).all()
    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = con.execute(ORACLE_MEDIA_EMBED_NEARDUP).df()
    key = ["aid", "bid"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert got[key].values.tolist() == want[key].values.tolist()
    assert (got["cosine"] - want["cosine"]).abs().max() == 0.0


# ------------------------------------------------------ plan shapes


def test_funnel_single_scan(spark):
    """events_funnel must read the events source exactly once (window
    cascade, not three filtered re-scans)."""
    from datashare_extension_neo4j_spark.queries import events_funnel

    df = events_funnel(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    rows = {r["step"]: r["nUsers"] for r in df.collect()}
    assert set(rows) == {
        "1_view", "2_click_after_view", "3_purchase_after_click"
    }
    # funnel steps can only shrink
    assert rows["1_view"] >= rows["2_click_after_view"] >= rows[
        "3_purchase_after_click"
    ]


def test_dedup_minhash_assign_no_forced_broadcast(spark):
    """The cluster table is corpus-fraction-sized at web scale — the
    join strategy must be AQE's choice, never a forced hint."""
    from datashare_extension_neo4j_spark.queries import dedup_minhash_assign

    df = dedup_minhash_assign(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    assert "UnresolvedHint" not in analyzed


def test_tfidf_n_docs_in_plan(spark):
    """tfidf_topterms must not run a separate driver-side count job:
    N rides in the plan as a broadcast 1-row aggregate."""
    from datashare_extension_neo4j_spark.queries import tfidf_topterms

    tracker = spark.sparkContext.statusTracker()

    def n_jobs() -> int:
        return len(tracker.getJobIdsForGroup(None) or [])

    # baseline: a bare parquet read may launch a schema/footer job
    b0 = n_jobs()
    spark.read.parquet(f"{SF_DIR}/documents.parquet")
    read_jobs = n_jobs() - b0
    b1 = n_jobs()
    df = tfidf_topterms(spark, SF_DIR)  # build only — no action
    build_jobs = n_jobs() - b1
    # the old implementation ran d.count() during construction (a full
    # scan job on top of the read); the in-plan N must add nothing
    assert build_jobs <= read_jobs, (build_jobs, read_jobs)
    assert df.where(F.col("rank") == 1).limit(1).count() == 1


# -------------------------------------------- decontamination @ n=13


def test_decontaminate_ngram_n13_synthetic(spark, tmp_path):
    """The standard 13-gram benchmark check on synthetic long docs:
    a training doc that is a verbatim copy of an eval doc is flagged;
    one sharing no 13-gram is not."""
    import pandas as pd

    from datashare_extension_neo4j_spark.queries import decontaminate_ngram

    words = [f"w{i}" for i in range(40)]
    eval_text = " ".join(words)  # doc_id 0 → eval slice (0 % 20 == 0)
    copy_text = eval_text  # full verbatim overlap
    clean_text = " ".join(f"x{i}" for i in range(40))
    partial_text = " ".join(words[:13] + [f"y{i}" for i in range(27)])
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [eval_text, copy_text, clean_text, partial_text],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in decontaminate_ngram(spark, sf, n=13).collect()
    }
    assert set(out) == {1, 2, 3}  # eval doc excluded from the corpus
    assert out[1]["isContaminated"] and out[1]["contamFraction"] == 1.0
    assert not out[2]["isContaminated"] and out[2]["nContamShingles"] == 0
    # partial doc shares exactly one 13-gram (words[0..12]) of its 28
    assert out[3]["nContamShingles"] == 1
    assert not out[3]["isContaminated"]


def test_decontaminate_default_matches_bigram_oracle(spark):
    """The registry entry (n=2, hashed shingles) must still match the
    string-counting DuckDB oracle."""
    import duckdb

    from datashare_extension_neo4j_spark.queries import (
        ORACLE_DECONTAMINATE_NGRAM,
        decontaminate_ngram,
    )

    got = (
        decontaminate_ngram(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = (
        con.execute(ORACLE_DECONTAMINATE_NGRAM)
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    for c in ("nContamShingles", "nShingles", "isContaminated"):
        assert got[c].tolist() == want[c].tolist(), c


def _duck(sf):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        f"read_parquet('{sf}/documents.parquet')"
    )
    return con


def test_minhash_pairs_oracle_models_the_cap(spark):
    """When the hot-band cap BINDS, the oracle must agree — the cap is
    interpolated from the same constant on both sides."""
    from datashare_extension_neo4j_spark.queries import (
        ORACLE_DEDUP_MINHASH_PAIRS,
        dedup_minhash_pairs,
    )

    got = (
        dedup_minhash_pairs(spark, SF_DIR, max_bucket=2)
        .toPandas()
        .sort_values(["docA", "docB"])
        .reset_index(drop=True)
    )
    oracle = ORACLE_DEDUP_MINHASH_PAIRS.replace(
        "HAVING count(*) <= 10000", "HAVING count(*) <= 2"
    )
    assert oracle != ORACLE_DEDUP_MINHASH_PAIRS, "cap not in oracle"
    want = (
        _duck(SF_DIR)
        .execute(oracle)
        .df()
        .sort_values(["docA", "docB"])
        .reset_index(drop=True)
    )
    assert got[["docA", "docB"]].values.tolist() == want[
        ["docA", "docB"]
    ].values.tolist()


def test_ngram_jaccard_oracle_models_the_cap(spark):
    from datashare_extension_neo4j_spark.queries import (
        ORACLE_DEDUP_NGRAM_JACCARD,
        dedup_ngram_jaccard,
    )

    got = (
        dedup_ngram_jaccard(spark, SF_DIR, max_block=3)
        .toPandas()
        .sort_values(["docA", "docB"])
        .reset_index(drop=True)
    )
    oracle = ORACLE_DEDUP_NGRAM_JACCARD.replace(
        "HAVING count(*) <= 10000", "HAVING count(*) <= 3"
    )
    assert oracle != ORACLE_DEDUP_NGRAM_JACCARD, "cap not in oracle"
    want = (
        _duck(SF_DIR)
        .execute(oracle)
        .df()
        .sort_values(["docA", "docB"])
        .reset_index(drop=True)
    )
    assert got[["docA", "docB"]].values.tolist() == want[
        ["docA", "docB"]
    ].values.tolist()


# ------------------------------------------------- cooccurrence cap


def test_cooccurrence_oracle_models_the_cap(spark, tmp_path):
    """When the hub-doc cap BINDS, the oracle must agree (round-3
    oracle silently diverged; the cap is now mirrored in SQL)."""
    import duckdb

    from datashare_extension_neo4j_spark.queries import (
        ORACLE_KG_ENTITY_COOCCURRENCE,
        kg_entity_cooccurrence,
    )

    got = (
        kg_entity_cooccurrence(spark, SF_DIR, max_doc_entities=3)
        .toPandas()
        .sort_values(["entityA", "entityB"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    oracle = ORACLE_KG_ENTITY_COOCCURRENCE.replace(
        "HAVING count(*) <= 1000", "HAVING count(*) <= 3"
    )
    assert oracle != ORACLE_KG_ENTITY_COOCCURRENCE, "cap not in oracle"
    want = (
        con.execute(oracle)
        .df()
        .sort_values(["entityA", "entityB"])
        .reset_index(drop=True)
    )
    assert got[["entityA", "entityB", "nSharedDocs"]].astype(str).values.tolist() == want[
        ["entityA", "entityB", "nSharedDocs"]
    ].astype(str).values.tolist()
