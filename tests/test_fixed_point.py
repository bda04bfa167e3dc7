"""Deep checks on the fixed-point (engine-exact) ANN machinery added
in round 4: randomized cross-engine signature parity, and the
null/empty-content edge of the multimodal near-dup pipeline (whose
bucket ids deliberately diverge for null embeddings but whose OUTPUT
must not).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_signature_bits_match_duckdb_on_random_vectors(spark):
    """Randomized parity: for 200 pseudo-random float32 vectors, the
    Spark fixed-point signature equals an independent DuckDB
    computation of the same definition (round(x·2^20) longs × int16
    planes, sum, sign) — the property the generated ANN oracles rest
    on, checked here without going through the oracle SQL generator."""
    from datashare_extension_neo4j_spark.operators.similarity import (
        SIG_SCALE,
        _planes_int,
        _with_lsh_signatures,
    )

    dim, bits, tables = 12, 10, 3
    v = spark.range(200).selectExpr(
        "id as vec_id",
        f"transform(sequence(1, {dim}), "
        "i -> cast(sin(id * 37 + i * 11) * cos(id + i) as float)) "
        "as embedding",
    )
    got = {
        r["vec_id"]: tuple(r[f"sig{t}"] for t in range(tables))
        for r in _with_lsh_signatures(
            v, "embedding", dim, bits, tables, "sig"
        ).collect()
    }

    pdf = v.toPandas()
    con = duckdb.connect()
    con.register("vecs", pdf)
    want: dict[int, list[int]] = {}
    for t in range(tables):
        planes = _planes_int(dim, bits, t)
        terms = " + ".join(
            f"(CASE WHEN list_dot_product("
            f"list_transform(CAST(embedding AS DOUBLE[]), "
            f"x -> round(x * {float(SIG_SCALE)})), "
            f"{[float(x) for x in plane]}::DOUBLE[]) >= 0 "
            f"THEN {1 << b} ELSE 0 END)"
            for b, plane in enumerate(planes)
        )
        for vid, sig in con.execute(
            f"SELECT vec_id, {terms} AS s FROM vecs"
        ).fetchall():
            want.setdefault(vid, []).append(sig)
    assert got == {k: tuple(v) for k, v in want.items()}


def test_media_embed_neardup_null_and_empty_text(spark, tmp_path):
    """Null-text docs embed as the ZERO vector on both engines (the
    oracle mirrors the Spark kernel — a NULL list would make DuckDB's
    list_dot_product throw, a bug this test originally caught); their
    pairs are dropped by the zero-norm cosine guard. Empty-string text
    hashes sha256('') on both sides. Identical non-empty prefixes must
    still pair."""
    from datashare_extension_neo4j_spark.queries import (
        ORACLE_MEDIA_EMBED_NEARDUP,
        media_embed_neardup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": [base, base, None, None, "", "something else"],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    got = (
        media_embed_neardup(spark, sf)
        .toPandas()
        .sort_values(["aid", "bid"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = (
        con.execute(ORACLE_MEDIA_EMBED_NEARDUP)
        .df()
        .sort_values(["aid", "bid"])
        .reset_index(drop=True)
    )
    assert got[["aid", "bid"]].values.tolist() == want[
        ["aid", "bid"]
    ].values.tolist()
    # the duplicate-prefix pair must be found; no null-text pair may
    assert ["asset-1", "asset-2"] in got[["aid", "bid"]].values.tolist()
    assert not any(
        a in ("asset-3", "asset-4") or b in ("asset-3", "asset-4")
        for a, b in got[["aid", "bid"]].values.tolist()
    )


def test_ivf_assignment_ties_break_identically(spark):
    """Equidistant centroids (exact integer distances can tie) must
    resolve to the same list on both engines — the tie-break is
    (distance, list_id) lexicographic. Construct an exact tie:
    centroids at +c and -c, query at the origin."""
    import duckdb as d2

    from datashare_extension_neo4j_spark.operators.similarity import (
        IVF_SCALE,
        ivf_ann_topk,
    )

    dim = 4
    rows = [
        (0, [0.0] * dim),          # the tied vector
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [-1.0, 0.0, 0.0, 0.0]),
        (3, [0.9, 0.1, 0.0, 0.0]),
        (4, [-0.9, -0.1, 0.0, 0.0]),
    ]
    v = spark.createDataFrame(
        [(i, [float(x) for x in vec]) for i, vec in rows],
        "vec_id long, embedding array<float>",
    )
    q = v.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    cents = [rows[1][1], rows[2][1]]  # +x and -x: origin ties exactly
    out = ivf_ann_topk(v, q, cents, k=4, n_probe=1).toPandas()
    # probe 1 list only; the tie at the origin must pick list 0
    # (lower list_id) → candidates are exactly the list-0 members
    got_nids = sorted(out["nid"].tolist())
    con = d2.connect()
    quant = (
        "list_transform(CAST(emb AS DOUBLE[]), "
        f"x -> round(x * {float(IVF_SCALE)}))"
    )
    con.register(
        "vecs",
        pd.DataFrame(
            {"vec_id": [i for i, _ in rows], "emb": [v for _, v in rows]}
        ),
    )
    cents_sql = " UNION ALL ".join(
        f"SELECT {i} AS list_id, {[float(x) for x in c]}::DOUBLE[] AS c"
        for i, c in enumerate(cents)
    )
    assign = con.execute(f"""
        WITH cents AS (
          SELECT list_id, list_transform(c, x -> round(x * {float(IVF_SCALE)})) AS cq
          FROM ({cents_sql})
        ), vq AS (SELECT vec_id, {quant} AS vq FROM vecs),
        dists AS (
          SELECT v.vec_id, c.list_id,
                 list_dot_product(v.vq, v.vq) - 2*list_dot_product(v.vq, c.cq)
                 + list_dot_product(c.cq, c.cq) AS d
          FROM vq v CROSS JOIN cents c
        )
        SELECT vec_id, list_id FROM (
          SELECT vec_id, list_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) rn
          FROM dists) WHERE rn = 1
    """).fetchall()
    by_list = {}
    for vid, lid in assign:
        by_list.setdefault(lid, []).append(vid)
    q_list = dict(assign)[0]
    assert q_list == 0  # the exact tie resolves to the lower list id
    want_nids = sorted(x for x in by_list[q_list] if x != 0)
    assert got_nids == want_nids
