"""Similarity search over embedding columns (array<float>).

Two paths:
  * ``cosine_topk`` — brute-force baseline: broadcast the (small)
    query side, JVM-side dot products via zip_with/aggregate, window
    rank. Exact; O(Q·N).
  * ``lsh_ann_topk`` — the scale path: random-hyperplane LSH. Each
    vector gets a b-bit signature (sign of dot with b fixed
    deterministic hyperplanes); candidates = same bucket in any of
    ``tables`` independent signatures; exact cosine re-rank inside
    buckets. Bucket join replaces the cross join, so cost follows
    bucket occupancy, not N² — at 10^12 rows the signatures/buckets
    shard by hash like any other key.

All dot products are pure column expressions (whole-stage codegen).
Hyperplanes / centroids travel as DATA, not plan literals: a one-row
DataFrame holding the nested plane/centroid arrays is broadcast and
cross-joined onto the vectors, so the compiled plan is O(1) in
``bits·tables·dim`` / ``n_lists·dim`` — at production scale
(dim 1024, n_lists 16k) a literal formulation would serialize
megabytes of constants into every task; the broadcast form ships them
once per executor. (Planes stay hash-derived and seeded — no RNG at
execution time.)

Bucket assignment (LSH signature bits, IVF list ids) is FIXED-POINT:
vectors are quantized to scaled integers (``round(x · 2^20)`` for
signature dots, ``round(x · 2^16)`` for IVF distances) and the
plane numerators stay the raw hash-derived int16s, so every
sign/argmin decision is an exact integer comparison — associative,
summation-order-free, and bit-reproducible by any engine (a DuckDB
oracle replays the identical buckets; float dots near the sign
boundary would diverge across engines). Exactness bounds: signature
sums need ``max|x| · 2^20 · 2^15 · dim < 2^63`` (|x| < 65k at
dim 4096); IVF distance sums need ``(2·max|x|·2^16)² · dim < 2^63``
(|x| < 360 at dim 4096) — far beyond any normalized embedding. The
exact cosine RE-RANK stays in doubles on the original vectors.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Null (not NaN) for zero-norm vectors: 0.0/0.0 is NaN, and Spark
    sorts NaN ABOVE every real number, so an unguarded zero vector
    (e.g. an embedding for empty content) would outrank every true
    neighbor under desc ordering; nulls sort last instead."""
    na2, nb2 = dot(a, a), dot(b, b)
    return F.when(
        (na2 > 0) & (nb2 > 0), dot(a, b) / (F.sqrt(na2) * F.sqrt(nb2))
    )


def _rank_topk(scored, k: int):
    """Per-query top-k by cosine desc (deterministic nid tie-break) —
    the shared re-rank tail of every ANN path."""
    w = W.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: queries(qid, qv) × vectors, ranked by cosine.

    Squared norms are bound to columns BEFORE the cross join (r6):
    inlining ``cosine()`` per pair re-ran dot(v,v) |queries| times per
    vector and dot(q,q) |vectors| times per query — at dim d that was
    ~2d wasted multiplies per pair. Same IEEE expression on the same
    values afterward, so scores are bit-identical."""
    v = vectors.select(
        id_col, vec_col, dot(F.col(vec_col), F.col(vec_col)).alias("_n2")
    )
    q = queries.select(
        "qid", "qv", dot(F.col("qv"), F.col("qv")).alias("_qn2")
    )
    pairs = v.crossJoin(F.broadcast(q)).where(F.col(id_col) != F.col("qid"))
    cos = F.when(
        (F.col("_qn2") > 0) & (F.col("_n2") > 0),
        dot(F.col("qv"), F.col(vec_col))
        / (F.sqrt(F.col("_qn2")) * F.sqrt(F.col("_n2"))),
    )
    scored = pairs.select(
        "qid",
        F.col(id_col).alias("nid"),
        cos.alias("cos"),
    )
    return _rank_topk(scored, k)


SIG_SCALE = 1 << 20  # vector quantization for signature sign dots
IVF_SCALE = 1 << 16  # coarser scale for IVF squared distances


def quantize(vec: Column, scale: int = SIG_SCALE) -> Column:
    """array<float> → array<long>: ``round(x · scale)``. The multiply
    by a power of two is exact in doubles, and round() is
    half-away-from-zero in both Spark and DuckDB, so the quantized
    integers are engine-identical."""
    return F.transform(
        vec,
        lambda x: F.round(x.cast("double") * float(scale)).cast("long"),
    )


def dot_long(a: Column, b: Column) -> Column:
    """Exact integer dot product (array<long> × array<long>)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _planes_int(dim: int, bits: int, table: int, seed: int = 42) -> list[list[int]]:
    """Deterministic hash-derived hyperplane numerators (int16 values;
    the implied plane is numerator/32768 — only the SIGN of the dot
    matters, so the common denominator never needs to be applied)."""
    planes = []
    for b in range(bits):
        vec: list[int] = []
        i = 0
        while len(vec) < dim:
            h = hashlib.sha256(f"{seed}:{table}:{b}:{i}".encode()).digest()
            for j in range(0, 32, 2):
                if len(vec) >= dim:
                    break
                vec.append(struct.unpack(">h", h[j : j + 2])[0])
            i += 1
        planes.append(vec)
    return planes


def lsh_signature(
    vec: Column, dim: int, bits: int = 12, table: int = 0
) -> Column:
    """b-bit random-hyperplane signature as an int column (literal
    form — kept for small/ad-hoc use; the scale path is
    ``_with_lsh_signatures``, which ships planes as broadcast data).
    Fixed-point: identical bits to the broadcast form."""
    vq = quantize(vec)
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(_planes_int(dim, bits, table)):
        p = F.array(*[F.lit(int(x)).cast("long") for x in plane])
        bit = F.when(dot_long(vq, p) >= 0, F.lit(1)).otherwise(F.lit(0))
        sig = sig + (bit * F.lit(2**i)).cast("long")
    return sig


def _planes_df(spark, dim: int, bits: int, tables: int, seed: int = 42):
    """One-row DataFrame: planes[t] = array of {w: 2^bit, v: int16
    numerators}. Broadcast-cross-joined onto the vectors so plane size
    never touches the compiled plan."""
    nested = [
        [
            {"w": 1 << b, "v": plane}
            for b, plane in enumerate(_planes_int(dim, bits, t, seed))
        ]
        for t in range(tables)
    ]
    return spark.createDataFrame(
        [(nested,)],
        "_planes array<array<struct<w:long,v:array<long>>>>",
    )


def _with_lsh_signatures(
    df, vec_col: str, dim: int, bits: int, tables: int, prefix: str
):
    """Append ``{prefix}0..{prefix}{tables-1}`` signature columns.

    The planes ride in via a broadcast one-row cross join; per table
    the signature folds the plane array with a higher-order aggregate
    (sum of 2^bit where dot(vq, plane) >= 0, all integer math) —
    identical bits to ``lsh_signature``, zero shuffle, O(1) plan size.
    The quantized vector is materialized into a column FIRST: lambda
    subexpressions are not CSE'd, so folding quantize() inside each
    per-table aggregate would recompute it ``tables`` times."""
    spark = df.sparkSession
    with_planes = (
        df.withColumn("_vq", quantize(F.col(vec_col)))
        .crossJoin(F.broadcast(_planes_df(spark, dim, bits, tables)))
    )

    def sig(t: int) -> Column:
        return F.aggregate(
            F.element_at(F.col("_planes"), t + 1),
            F.lit(0).cast("long"),
            lambda acc, p: acc
            + F.when(
                dot_long(F.col("_vq"), p.getField("v")) >= 0, p.getField("w")
            ).otherwise(F.lit(0).cast("long")),
        )
    return with_planes.select(
        *df.columns, *[sig(t).alias(f"{prefix}{t}") for t in range(tables)]
    )


def _centroids_df(spark, centroids: list[list[float]]) -> DataFrame:
    """Centroids as broadcast DATA (one-row cross join), never plan
    literals — at n_lists·dim scale a literal array would bloat every
    serialized task; here the plan stays O(1). Centroids are quantized
    IN THE PLAN (JVM round, not Python round, which is half-even and
    would diverge from a SQL oracle at exact halves)."""
    return spark.createDataFrame(
        [([{"list_id": i, "c": c} for i, c in enumerate(centroids)],)],
        "_cents array<struct<list_id:int,c:array<double>>>",
    ).select(
        F.transform(
            F.col("_cents"),
            lambda s: F.struct(
                s.getField("list_id").alias("list_id"),
                quantize(s.getField("c"), IVF_SCALE).alias("cq"),
            ),
        ).alias("_cents")
    )


def _nearest_lists(n: int) -> Column:
    """ids of the n closest centroids (expects ``_vq``/``_cents``
    columns in scope) — exact integer L2 over the quantized vector,
    ties broken by list_id: every comparison is engine-reproducible."""
    dists = F.transform(
        F.col("_cents"),
        lambda s: F.struct(
            F.aggregate(
                F.zip_with(
                    F.col("_vq"),
                    s.getField("cq"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d"),
            s.getField("list_id").alias("list_id"),
        ),
    )
    return F.slice(F.array_sort(dists), 1, n)


def kmeans_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment: the input columns plus ``list_id``.
    Map-only — the codebook rides as one broadcast row, so assignment
    is a scan-shaped stage with no shuffle at any corpus size."""
    return (
        vectors.withColumn("_vq", quantize(F.col(vec_col), IVF_SCALE))
        .crossJoin(F.broadcast(_centroids_df(vectors.sparkSession, centroids)))
        .select(
            *vectors.columns,
            F.element_at(_nearest_lists(1), 1)
            .getField("list_id")
            .alias("list_id"),
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.4,
    keeper_cap: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with a (pre-trained) k-means codebook, then treat
    within-cluster pairs with cosine ≥ ``threshold`` as semantic
    duplicates and keep the lowest id of each group. LLM-pipeline
    extension beyond the reference surface (brief: embedding-cosine
    near-dup at corpus scale).

    Scale shape: the cluster id is the blocking key — candidate
    generation is a bucket join on ``list_id``, never an all-pairs
    product, and the assignment stage is map-only (broadcast
    codebook). The cross-cluster pair a true SemDeDup run would also
    miss is the algorithm's documented approximation; choosing
    ``n_lists ~ sqrt(N)`` keeps clusters O(sqrt(N)). ``keeper_cap``
    bounds the degenerate case (one cluster swallowing the corpus):
    each row is compared only against the ``keeper_cap`` lowest-id
    members of its cluster, so the join fans out at most
    |cluster|·cap rows — same discipline as the hot-bucket caps on
    the MinHash/bigram blocked paths, and mirrored in the DuckDB
    oracle. Suppression keeps min-id-wins deterministic; the exact
    cosine runs in doubles on the ORIGINAL vectors, rounded to 6dp so
    the threshold comparison is engine-reproducible.

    Returns every input row: (vec_id, list_id, keeperVecId, kept).
    """
    a = kmeans_assign(vectors, centroids, id_col, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        "list_id",
    )
    keepers = (
        a.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("list_id").orderBy("vec_id")),
        )
        .where(F.col("rn") <= keeper_cap)
        .select(
            "list_id",
            F.col("vec_id").alias("kid"),
            F.col("v").alias("kv"),
        )
    )
    suppressed = (
        a.join(keepers, "list_id")
        .where(F.col("kid") < F.col("vec_id"))
        .where(
            F.round(cosine(F.col("kv"), F.col("v")), 6) >= threshold
        )
        .groupBy("vec_id")
        .agg(F.min("kid").alias("keeperVecId"))
    )
    return a.join(suppressed, "vec_id", "left").select(
        "vec_id",
        "list_id",
        "keeperVecId",
        F.col("keeperVecId").isNull().alias("kept"),
    )


def ivf_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN over a coarse quantizer ``centroids`` (list of
    dim-length vectors, e.g. trained by ``kmeans_fixed_point``): every
    vector assigned to its nearest centroid list; queries probe the
    ``n_probe`` nearest lists and re-rank candidates exactly. The list
    assignment shards by centroid id like any other key, so candidate
    generation is a bucket join — the IVF scale path. The codebook is
    data, trained once on a sample and reused, which also keeps plan
    compilation O(1) at n_lists≥256."""
    v = kmeans_assign(vectors, centroids, id_col, vec_col).select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"), "list_id"
    )
    q = (
        queries.withColumn("_vq", quantize(F.col("qv"), IVF_SCALE))
        .crossJoin(F.broadcast(_centroids_df(queries.sparkSession, centroids)))
        .select(
            "qid",
            "qv",
            F.explode(
                F.transform(
                    _nearest_lists(n_probe), lambda s: s.getField("list_id")
                )
            ).alias("list_id"),
        )
    )
    cand = v.join(F.broadcast(q), "list_id").where(F.col("nid") != F.col("qid"))
    scored = cand.select(
        "qid", "nid", cosine(F.col("qv"), F.col("nv")).alias("cos")
    )
    return _rank_topk(scored, k)


def kmeans_fixed_point(
    vectors: DataFrame,
    n_lists: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = IVF_SCALE,
) -> DataFrame:
    """Fixed-iteration Lloyd k-means over quantized vectors — the IVF
    codebook TRAINING step as DataFrame ops, replacing random-sample
    init with actual cluster refinement while keeping the engine-exact
    fixed-point discipline (the ``kg_entity_pagerank`` pattern):

    - vectors quantized to longs (``round(x·2^16)``, exact in both
      engines);
    - assignment = exact integer L2 argmin, ties by list_id;
    - new centroid = per-dimension ``CAST(round(sum/count) AS LONG)``
      (integer sums < 2^53 are exact in doubles, and round() is
      half-away-from-zero in Spark AND DuckDB, so every iteration is
      engine-identical and an unrolled-CTE oracle replays it);
    - a list that captures no vectors keeps its previous centroid.

    Init = vectors with id < n_lists (the deterministic sample init
    every build starts from). The whole loop is IN-PLAN (the per-round
    centroid table rides as a broadcast one-row array; no driver
    collect): per iteration one broadcast cross join + one
    (list_id, pos) partial-aggregated shuffle + one list_id agg —
    vocab-cardinality state, corpus-cardinality work only in the
    assignment scan, the k-means scale shape.

    Returns ``(list_id int, cq array<long>, n_assigned long)`` where
    ``n_assigned`` counts the final assignment that produced the
    returned centroids."""
    v = vectors.select(
        F.col(id_col).alias("vid"),
        quantize(F.col(vec_col), scale).alias("_vq"),
    )
    cents = v.where(F.col("vid") < n_lists).select(
        F.col("vid").cast("int").alias("list_id"),
        F.col("_vq").alias("cq"),
        F.lit(0).cast("long").alias("n_assigned"),
    )
    for _ in range(iters):
        crow = cents.groupBy().agg(
            F.collect_list(F.struct("list_id", "cq")).alias("_cents")
        )
        assign = v.crossJoin(F.broadcast(crow)).select(
            "vid",
            "_vq",
            F.element_at(_nearest_lists(1), 1)
            .getField("list_id")
            .alias("list_id"),
        )
        sums = (
            assign.select(
                "list_id", F.posexplode("_vq").alias("pos", "val")
            )
            .groupBy("list_id", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        )
        newc = (
            sums.select(
                "list_id",
                "pos",
                F.round(F.col("s") / F.col("n")).cast("long").alias("m"),
                "n",
            )
            .groupBy("list_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("pos").alias("p"),
                                F.col("m").alias("m"),
                            )
                        )
                    ),
                    lambda x: x.getField("m"),
                ).alias("_cq2"),
                F.min("n").alias("_n2"),
            )
        )
        cents = (
            cents.select("list_id", "cq")
            .join(newc, "list_id", "left")
            .select(
                "list_id",
                F.coalesce("_cq2", "cq").alias("cq"),
                F.coalesce(F.col("_n2"), F.lit(0))
                .cast("long")
                .alias("n_assigned"),
            )
        )
    return cents


def explode_buckets(
    df: DataFrame, tables: int, prefix: str, keep: list[str]
) -> DataFrame:
    """(row, sig0..sigT-1) → one row per (t, s) bucket membership —
    the shared unpivot step of every LSH bucket-join path (vector
    side, query side, media near-dup)."""
    return df.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), F.col(f"{prefix}{t}").alias("s")
                    )
                    for t in range(tables)
                ]
            )
        ).alias("b"),
    ).select(*keep, F.col("b.t").alias("t"), F.col("b.s").alias("s"))


def lsh_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 10,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket-join candidates, exact re-rank."""
    v = _with_lsh_signatures(
        vectors.select(
            F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")
        ),
        "nv", dim, bits, tables, "sig",
    )
    q = _with_lsh_signatures(
        queries.select("qid", "qv"), "qv", dim, bits, tables, "qsig"
    )
    v_buckets = explode_buckets(v, tables, "sig", ["nid", "nv"])
    q_buckets = explode_buckets(q, tables, "qsig", ["qid", "qv"])
    cand = (
        v_buckets.join(F.broadcast(q_buckets), ["t", "s"])
        .where(F.col("nid") != F.col("qid"))
        .select("qid", "qv", "nid", "nv")
        .dropDuplicates(["qid", "nid"])
    )
    scored = cand.select(
        "qid", "nid", cosine(F.col("qv"), F.col("nv")).alias("cos")
    )
    return _rank_topk(scored, k)
