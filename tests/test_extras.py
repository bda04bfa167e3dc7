"""Multimodal plumbing, LSH ANN recall, streaming ingest."""

import hashlib

import pytest
from pyspark.sql import functions as F

from datashare_extension_neo4j_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_images,
    fake_image_decode,
    frame_sample,
    media_embeddings,
)
from datashare_extension_neo4j_spark.operators.similarity import (
    cosine_topk,
    lsh_ann_topk,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (f"asset-{i}", f"doc-{i % 3}", "image" if i % 2 == 0 else "video",
         hashlib.sha256(str(i).encode()).digest() * 4, {"source": "fixture"})
        for i in range(10)
    ]
    rows.append(("asset-null", "doc-0", "image", None, None))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_decode_images(media):
    out = {r["asset_id"]: r.asDict() for r in decode_images(media).collect()}
    assert len(out) == 6  # 5 images + null
    a0 = out["asset-0"]
    w, h, c, hx = fake_image_decode(hashlib.sha256(b"0").digest() * 4)
    assert (a0["width"], a0["height"], a0["channels"], a0["content_hash"]) == (
        w, h, c, hx,
    )
    assert out["asset-null"]["width"] == 0


def test_decode_requires_real_raises(media):
    try:
        import PIL  # noqa: F401

        pytest.skip("pillow present")
    except ImportError:
        pass
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as ei:
        decode_images(media, require_real=True).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, Py4JJavaError
    )


def test_media_embeddings_and_frames(media):
    emb = media_embeddings(media).collect()
    assert all(len(r["embedding"]) == 16 for r in emb)
    # deterministic across runs
    emb2 = {r["asset_id"]: r["embedding"] for r in media_embeddings(media).collect()}
    assert {r["asset_id"]: r["embedding"] for r in emb} == emb2
    frames = frame_sample(media, every_n_seconds=10).collect()
    assert frames and all(f["frame_ref"].endswith(str(f["frame_ts"])) for f in frames)


def test_lsh_ann_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = {
        (r["qid"], r["nid"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["qid"], r["nid"])
        for r in lsh_ann_topk(emb, queries, dim=64, k=5, bits=4, tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    # uniform random vectors are ANN's worst case; the point here is
    # the bucket-join machinery + deterministic planes, not the recall
    # ceiling of hyperplane LSH on noise
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_streaming_ingest(spark, tmp_path):
    from datashare_extension_neo4j_spark.fixtures import reference_pages_pandas
    from datashare_extension_neo4j_spark.schemas import PAGES_SCHEMA
    from datashare_extension_neo4j_spark.streaming.ingest import start_graph_ingest

    inp = str(tmp_path / "in")
    pdf = reference_pages_pandas(n_docs=12)
    spark.createDataFrame(pdf.iloc[:6], PAGES_SCHEMA).write.mode(
        "append"
    ).parquet(inp)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = start_graph_ingest(spark, inp, out, ck)
    q.awaitTermination(120)
    docs1 = spark.read.parquet(f"{out}/docs").count()
    assert docs1 == 6
    a1 = spark.read.parquet(f"{out}/appears_in")
    counts1 = {
        (r["startId"], r["endId"]): r["mentionCount"] for r in a1.collect()
    }
    # second wave: remaining docs arrive; resume from checkpoint
    spark.createDataFrame(pdf.iloc[6:], PAGES_SCHEMA).write.mode(
        "append"
    ).parquet(inp)
    q2 = start_graph_ingest(spark, inp, out, ck)
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{out}/docs").count() == 12
    a2 = spark.read.parquet(f"{out}/appears_in")
    counts2 = {
        (r["startId"], r["endId"]): r["mentionCount"] for r in a2.collect()
    }
    # old edges preserved, new edges merged in
    assert set(counts1) <= set(counts2)
    assert len(counts2) > len(counts1)


def test_streaming_ingest_replayed_batch_lands_once(spark, tmp_path):
    """Spark replays a micro-batch whose output was written but whose
    commit was not (a crash in between): the replay must MERGE, not
    append the batch's docs a second time."""
    from datashare_extension_neo4j_spark.fixtures import reference_pages_pandas
    from datashare_extension_neo4j_spark.migrations import verify_constraints
    from datashare_extension_neo4j_spark.schemas import PAGES_SCHEMA
    from datashare_extension_neo4j_spark.streaming.ingest import start_graph_ingest

    inp = str(tmp_path / "in")
    spark.createDataFrame(
        reference_pages_pandas(n_docs=6), PAGES_SCHEMA
    ).write.parquet(inp)
    out = str(tmp_path / "out")
    ck = tmp_path / "ck"
    start_graph_ingest(spark, inp, out, str(ck)).awaitTermination(120)
    # forget the last commit: on restart Spark re-runs that batch
    last = max(
        (p for p in (ck / "commits").iterdir() if p.name.isdigit()),
        key=lambda p: int(p.name),
    )
    last.unlink()
    (last.parent / f".{last.name}.crc").unlink(missing_ok=True)
    start_graph_ingest(spark, inp, out, str(ck)).awaitTermination(120)
    docs = spark.read.parquet(f"{out}/docs")
    assert docs.count() == docs.select("id").distinct().count() == 6
    verify_constraints(spark, out)


def test_streamed_store_equals_one_shot_import(spark, tmp_path, capsys):
    """Two streamed waves build the same five tables as one
    incremental_import of all the pages into an empty run dir; the
    CLI reads the streamed store, and its manifest has one increment
    per non-empty micro-batch."""
    import json
    from pathlib import Path

    from datashare_extension_neo4j_spark.cli import main
    from datashare_extension_neo4j_spark.fixtures import reference_pages_pandas
    from datashare_extension_neo4j_spark.schemas import PAGES_SCHEMA
    from datashare_extension_neo4j_spark.sinks.tables import (
        TABLE_KEYS,
        incremental_import,
        read_table,
    )
    from datashare_extension_neo4j_spark.streaming.ingest import start_graph_ingest

    pdf = reference_pages_pandas(n_docs=12)
    inp, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    batches = 0
    for wave in (pdf.iloc[:6], pdf.iloc[6:]):
        spark.createDataFrame(wave, PAGES_SCHEMA).write.mode("append").parquet(inp)
        q = start_graph_ingest(spark, inp, out, ck)
        q.awaitTermination(120)
        batches += sum(p["numInputRows"] > 0 for p in q.recentProgress)

    one_shot = str(tmp_path / "one_shot")
    incremental_import(spark, spark.createDataFrame(pdf, PAGES_SCHEMA), one_shot)
    for name in TABLE_KEYS:
        got, want = (read_table(spark, f"{d}/{name}") for d in (out, one_shot))
        cols = sorted(want.columns)
        assert sorted(got.columns) == cols, name
        assert sorted(map(str, got.select(*cols).collect())) == sorted(
            map(str, want.select(*cols).collect())
        ), name

    manifest = json.loads((Path(out) / "manifest.json").read_text())
    assert batches >= 2
    assert len(manifest["increments"]) == batches
    assert main(["export-csv", "--run-dir", out,
                 "--export-dir", str(tmp_path / "export")]) == 0
    assert main(["dump", "--run-dir", out,
                 "--output", str(tmp_path / "dump.graphml")]) == 0
    dumped = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert dumped["elements"] > 0


def test_ann_plan_size_bounded_at_production_dims(spark):
    """Planes/centroids are broadcast DATA, not plan literals: at
    dim=512 with 16 bits × 8 tables (LSH) and n_lists=256 (IVF) the
    query must still COMPILE in bounded time with a bounded plan —
    a literal formulation would serialize n_lists·dim ≈ 131k constants
    into every task and blow both."""
    import time

    from datashare_extension_neo4j_spark.operators.similarity import (
        ivf_ann_topk,
        lsh_ann_topk,
    )

    dim = 512
    v = spark.range(4).selectExpr(
        "id as vec_id",
        f"transform(sequence(1, {dim}), i -> cast(id + i as float)) as embedding",
    )
    q = v.limit(1).selectExpr("vec_id as qid", "embedding as qv")

    t0 = time.monotonic()
    lsh = lsh_ann_topk(v, q, dim=dim, k=2, bits=16, tables=8)
    cents = [[float(j % 7) for j in range(dim)] for _ in range(256)]
    ivf = ivf_ann_topk(v, q, cents, k=2, n_probe=4)
    plans = [
        df._jdf.queryExecution().executedPlan().toString() for df in (lsh, ivf)
    ]
    elapsed = time.monotonic() - t0
    assert elapsed < 60, f"plan compilation took {elapsed:.0f}s"
    for p in plans:
        assert len(p) < 2_000_000
        assert "Broadcast" in p


def test_ivf_ann_recall(spark):
    """IVF over an 8-list codebook trained by the fixed-point k-means,
    dequantized by its power-of-two scale."""
    from datashare_extension_neo4j_spark.operators.similarity import (
        IVF_SCALE,
        ivf_ann_topk,
        kmeans_fixed_point,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    cents = [
        [x / IVF_SCALE for x in r["cq"]]
        for r in kmeans_fixed_point(emb, 8).orderBy("list_id").collect()
    ]
    exact = {
        (r["qid"], r["nid"]) for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["qid"], r["nid"])
        for r in ivf_ann_topk(emb, queries, cents, k=5, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_minhash_bucket_cap(spark):
    """A degenerate band bucket (boilerplate-heavy corpus: one band
    value shared by many docs) is excluded once its size exceeds
    max_bucket, bounding the candidate count; small buckets are kept."""
    from datashare_extension_neo4j_spark.queries import capped_block_pairs

    rows = [(i, "HOT") for i in range(100)] + [
        (200, "cold"), (201, "cold"),
    ]
    bands = spark.createDataFrame(rows, "doc_id long, band string")
    uncapped = capped_block_pairs(bands, "doc_id", ["band"], max_block=10_000)
    assert uncapped.count() == 100 * 99 // 2 + 1
    capped = capped_block_pairs(bands, "doc_id", ["band"], max_block=50)
    got = {(r["a"], r["b"]) for r in capped.collect()}
    assert got == {(200, 201)}  # hot bucket dropped, cold kept


def test_stateful_first_seen_dedup(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: only the FIRST
    occurrence of each key ever passes, across micro-batches AND across
    a checkpointed restart."""
    import pandas as pd

    from datashare_extension_neo4j_spark.streaming.stateful import (
        start_first_seen_dedup,
    )

    inp = tmp_path / "in"
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    inp.mkdir()

    def wave(name, rows):
        pd.DataFrame(rows, columns=["key", "doc_id", "ts"]).to_parquet(
            inp / f"{name}.parquet"
        )

    # wave 1: h1 twice (same batch), h2 once
    wave("w1", [("h1", "d1", 10), ("h1", "d2", 11), ("h2", "d3", 12)])
    # wave 2 (separate file → separate micro-batch): h1 again + new h3
    wave("w2", [("h1", "d4", 20), ("h3", "d5", 21)])
    q = start_first_seen_dedup(spark, str(inp), out, ck)
    q.awaitTermination(120)

    got = {
        r["key"]: (r["doc_id"], r["ts"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {"h1": ("d1", 10), "h2": ("d3", 12), "h3": ("d5", 21)}

    # restart with new files: state survives the checkpoint — h1/h3
    # still suppressed, h4 passes
    wave("w3", [("h1", "d6", 30), ("h3", "d7", 31), ("h4", "d8", 32)])
    q2 = start_first_seen_dedup(spark, str(inp), out, ck)
    q2.awaitTermination(120)
    got2 = {
        r["key"]: (r["doc_id"], r["ts"])
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == {
        "h1": ("d1", 10), "h2": ("d3", 12), "h3": ("d5", 21),
        "h4": ("d8", 32),
    }


def test_dedup_within_watermark_stream(spark, tmp_path):
    """Built-in bounded-state dedup: duplicates inside the watermark
    horizon are dropped; each key emits exactly once per burst."""
    import pandas as pd

    from datashare_extension_neo4j_spark.streaming.stateful import (
        dedup_within_watermark_stream,
    )

    inp = tmp_path / "in"
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    inp.mkdir()
    rows = [
        ("h1", "d1", "2026-01-01 10:00:00"),
        ("h1", "d2", "2026-01-01 10:01:00"),  # dup within 10 min
        ("h2", "d3", "2026-01-01 10:02:00"),
    ]
    pd.DataFrame(rows, columns=["key", "doc_id", "event_ts"]).assign(
        event_ts=lambda d: pd.to_datetime(d.event_ts)
    ).to_parquet(
        inp / "w1.parquet",
        coerce_timestamps="us",  # pandas default ns ≠ Spark timestamp
        allow_truncated_timestamps=True,
    )

    stream = spark.readStream.schema(
        "key string, doc_id string, event_ts timestamp"
    ).parquet(str(inp))
    q = (
        dedup_within_watermark_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["key"] for r in spark.read.parquet(out).collect())
    assert got == ["h1", "h2"]


def test_windowed_event_counts_drops_late_rows(spark, tmp_path):
    """Watermark semantics end-to-end: a row older than the watermark
    horizon (behind max-seen event time) is dropped; windows emit once
    on close (append mode)."""
    import pandas as pd

    from pyspark.sql import types as T

    from datashare_extension_neo4j_spark.streaming.stateful import (
        windowed_event_counts,
    )

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    inp = tmp_path / "in"
    inp.mkdir()
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def wave(name, rows):
        pd.DataFrame(rows, columns=["ts", "event_type", "value"]).astype(
            {"ts": "datetime64[us]"}
        ).to_parquet(inp / f"{name}.parquet")

    t = pd.Timestamp("2026-01-01 10:00:00")
    m = pd.Timedelta(minutes=1)
    # batch 1: two rows in the 10:00 window
    wave("w1", [(t + 1 * m, "click", 1.0), (t + 2 * m, "click", 2.0)])
    # batch 2: advance event time far ahead — the watermark moves to
    # 10:45 (past the 10:00 window's end) at this batch's END
    wave("w2", [(t + 60 * m, "click", 5.0)])
    # batch 3: keeps the stream moving; during it the 10:00 window is
    # evicted+emitted with exactly the two on-time rows
    wave("w3", [(t + 61 * m, "click", 7.0)])
    # batch 4: a LATE row for the closed 10:00 window — DROPPED. It
    # needs its own batch two steps after the advance: Spark filters
    # late input with the watermark committed at the PREVIOUS batch's
    # end, and merges-then-evicts within a batch, so a late row in
    # batch 2 or 3 would still be merged before eviction.
    wave("w4", [(t + 3 * m, "click", 100.0)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inp))
    )
    q = (
        windowed_event_counts(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # one more empty-ish trigger cycle is NOT needed: availableNow
    # processes both files as separate batches and closes the window
    rows = {
        (str(r["windowStart"]), r["event_type"]): (r["nEvents"], r["totalValue"])
        for r in spark.read.parquet(out).collect()
    }
    # the 10:00 window emitted exactly the two on-time rows — the late
    # 100.0 row was dropped by the watermark
    assert rows.get(("2026-01-01 10:00:00", "click")) == (2, 3.0)


def test_connected_components(spark):
    """Hash-min CC: two components, one a 5-node chain (diameter
    stress), one a triangle; labels = min node id per component."""
    from datashare_extension_neo4j_spark.operators.graph_algos import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (12, 10)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["comp"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_long_chain(spark):
    """Pointer jumping collapses a 200-node chain within the round
    bound (pure hash-min needs diameter rounds and would raise)."""
    from datashare_extension_neo4j_spark.operators.graph_algos import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    got = {
        r["node"]: r["comp"]
        for r in connected_components(edges, max_iter=15).collect()
    }
    assert len(got) == 201
    assert set(got.values()) == {0}


def test_entity_cooccurrence_hub_doc_cap(spark, tmp_path):
    """A hub document over the per-doc entity cap is excluded BEFORE
    the self-join (quadratic-blowup guard); normal docs still pair.
    Runs the real query against a scratch documents.parquet whose
    doc 0 mentions every gazetteer word (8 > cap 4) and doc 1 two."""
    import pandas as pd

    from datashare_extension_neo4j_spark.queries import (
        kg_entity_cooccurrence,
    )

    hub_text = "customer supplier spark window table vector stream batch"
    pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [hub_text, "spark table spark"],
            "lang": ["en", "en"],
            "n_chars": [len(hub_text), 17],
        }
    ).to_parquet(tmp_path / "documents.parquet")

    capped = kg_entity_cooccurrence(
        spark, str(tmp_path), max_doc_entities=4
    )
    got = {
        (r["entityA"], r["entityB"]): r["nSharedDocs"]
        for r in capped.collect()
    }
    # only doc 1's pair survives; the 8-entity hub contributes nothing
    assert got == {("spark/ORGANIZATION", "table/LOCATION"): 1}
    # uncapped: the hub emits all C(8,2)=28 pairs (+ overlap with doc 1)
    full = kg_entity_cooccurrence(spark, str(tmp_path))
    assert full.count() == 28


def test_pagerank_star_graph(spark):
    """4-leaf star: the hub's rank must exceed every leaf's, leaves
    are symmetric, and values match the closed-form fixed point
    (hub = 0.15 + 0.85·4·(leaf/1); leaf = 0.15 + 0.85·hub/4 —
    iterated 5 rounds from 1.0 with per-round 6dp rounding)."""
    from datashare_extension_neo4j_spark.operators.graph_algos import pagerank

    edges = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(4)], "src string, dst string"
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert got["hub"] > got["leaf0"]
    assert len({got[f"leaf{i}"] for i in range(4)}) == 1
    # mirror the loop (deg: hub=4, leaf=1). Python's round() is
    # half-even over binary doubles while Spark/DuckDB round decimal
    # half-up, so intermediate roundings can differ by 1e-6/step —
    # assert closeness; exact cross-engine parity is what the DuckDB
    # oracle (same decimal rounding discipline) hash-checks.
    hub, leaf = 1.0, 1.0
    for _ in range(5):
        hub, leaf = (
            round(0.15 + 0.85 * 4 * leaf, 6),
            round(0.15 + 0.85 * (hub / 4), 6),
        )
    assert abs(got["hub"] - hub) < 1e-5 and abs(got["leaf1"] - leaf) < 1e-5


def test_connected_components_computes_edges_once(spark):
    """The upstream edge pipeline must execute exactly ONCE: sym is
    checkpointed before the loop, so the O(log d) rounds (two joins +
    a count each) never re-run it. An accumulator inside a mapInPandas
    tap counts how many times each input row flows through — without
    the checkpoint a 4-round run re-executes the tap ~9×."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    from datashare_extension_neo4j_spark.operators.graph_algos import (
        connected_components,
    )

    acc = spark.sparkContext.accumulator(0)

    def tap(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    base = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "src long, dst long"
    )
    edges = base.mapInPandas(tap, "src long, dst long")
    got = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {0} and len(got) == 51
    # each of the 50 edge rows crossed the tap exactly once per side of
    # the unionByName symmetrization = 100 total, regardless of rounds
    assert acc.value == 100


def test_cosine_zero_vector_is_null_not_nan(spark):
    """A zero-norm vector must rank LAST (null), never first (NaN
    sorts above every real number under desc)."""
    from datashare_extension_neo4j_spark.operators.similarity import cosine_topk

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]), (3, [0.5, 0.5])]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = e.where("vec_id = 0").selectExpr("vec_id as qid", "embedding as qv")
    top = cosine_topk(e, q, k=2).collect()
    assert [r["nid"] for r in top] == [1, 3]  # zero vector not in top-2


def test_gazetteer_mixed_case_keys(spark):
    from datashare_extension_neo4j_spark.operators.ner import rule_based_mentions

    docs = spark.createDataFrame(
        [("d1", "I love Apple products", "en")],
        "id string, text string, lang string",
    )
    out = rule_based_mentions(docs, gazetteer={"Apple": "ORGANIZATION"}).collect()
    assert [(r["mentionNorm"], r["category"]) for r in out] == [
        ("apple", "ORGANIZATION")
    ]


def test_gazetteer_pattern_built_once_matches_per_document_pattern():
    """``_extract_doc`` with the pattern ``gazetteer_re`` builds once
    gives what the per-document pattern it replaced gave, on hostile
    and non-ASCII text: the same records, or the same exception."""
    import re

    from datashare_extension_neo4j_spark.operators import ner

    def per_document(doc_id, text, lang, gazetteer):
        """The former body: the alternation compiled for every call."""
        pat = re.compile(
            r"\b(" + "|".join(re.escape(k) for k in sorted(gazetteer)) + r")\b",
            re.IGNORECASE,
        ) if gazetteer else None
        return ner._extract_doc(doc_id, text, lang, gazetteer, pat)

    def outcome(fn, *args):
        try:
            return fn(*args)
        except Exception as e:  # compared, not raised
            return type(e).__name__, str(e)

    texts = [
        "",
        "İstanbul spark İ WİNDOW",  # dotted capital I lowers to two chars
        "SPAR\u212a \u212a spark",  # Kelvin sign, case-equivalent to k
        "ſpark ﬆream",  # long s; the st ligature
        "a@b@c.de From: x@y.org To:a@b@c.de",
        "_spark spark_ _window window_ x_table_y batch_ _",
        "Spark\u0301 spark\u00a0batch naïve café vector",
        "From: \u00e9l\u00e8ve@exemple.fr\nTo: SUPPLIER@acme.io customer",
    ]
    gazetteers = [
        ner.DEFAULT_GAZETTEER,
        {},
        {"i": "PERSON", "k": "LOCATION", "caf\u00e9": "ORGANIZATION"},
        {"a.b": "PERSON", "c++": "ORGANIZATION", "x_y": "LOCATION"},
    ]
    for gaz in gazetteers:
        terms = ner.gazetteer_re(gaz)
        for text in texts:
            assert outcome(ner._extract_doc, "d", text, "en", gaz, terms) == outcome(
                per_document, "d", text, "en", gaz
            ), (gaz, text)


def test_ngram_block_cap(spark, tmp_path):
    """A degenerate (lang, length-bucket) block above max_block is
    excluded from pairing; small blocks are kept."""
    import pandas as pd

    sf = tmp_path / "sf"
    sf.mkdir()
    rows = [
        {"doc_id": i, "text": "alpha beta gamma delta", "lang": "en",
         "n_chars": 22}
        for i in range(50)
    ] + [
        {"doc_id": 100, "text": "omega psi chi phi", "lang": "fr",
         "n_chars": 17},
        {"doc_id": 101, "text": "omega psi chi phi", "lang": "fr",
         "n_chars": 17},
    ]
    pd.DataFrame(rows).to_parquet(sf / "documents.parquet")
    from datashare_extension_neo4j_spark.queries import dedup_ngram_jaccard

    uncapped = dedup_ngram_jaccard(spark, str(sf))
    assert uncapped.count() == 50 * 49 // 2 + 1
    capped = dedup_ngram_jaccard(spark, str(sf), max_block=10)
    got = {(r["docA"], r["docB"]) for r in capped.collect()}
    assert got == {(100, 101)}
