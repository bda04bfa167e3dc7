"""Custom stateful streaming operator: cross-batch first-seen dedup.

The training-data use case: a continuous page/document feed where only
the FIRST occurrence of each content hash may pass downstream —
duplicates arriving in later micro-batches (hours or days later) must
be suppressed. Batch dedup (queries.dedup_exact) can't do this without
re-scanning history; the streaming-native answer is keyed state:

  stream.groupBy(key).applyInPandasWithState(first_seen_fn, ...)

State per key is a single `seen` flag persisted in the checkpointed
state store, so the operator survives restarts and the memory footprint
is O(distinct keys) spread across the state-store partitions — the
standard Structured Streaming scale shape (state shards with the
shuffle partitioning; RocksDB state store at production scale).

The reference has no streaming surface (SURVEY.md §2.10) — this extends
the engine for the continuous-ingest case the driver brief mandates.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

FIRST_SEEN_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("ts", T.LongType()),
    ]
)
_STATE = T.StructType([T.StructField("seen", T.BooleanType())])


def _first_seen_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit the earliest (ts, doc_id) row for this key once, ever."""
    if state.exists:
        # key already emitted in an earlier batch — swallow everything
        for _ in pdfs:
            pass
        return
    best = None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        cand = pdf.sort_values(["ts", "doc_id"]).iloc[0]
        if best is None or (cand["ts"], cand["doc_id"]) < (
            best["ts"], best["doc_id"]
        ):
            best = cand
    if best is not None:
        state.update((True,))
        yield pd.DataFrame(
            {"key": [key[0]], "doc_id": [best["doc_id"]], "ts": [best["ts"]]}
        )


def first_seen_stream(stream: DataFrame, key_col: str = "key") -> DataFrame:
    """(key, doc_id, ts) stream → first occurrence per key, exactly
    once across all micro-batches (state-store backed)."""
    return stream.groupBy(key_col).applyInPandasWithState(
        _first_seen_fn,
        outputStructType=FIRST_SEEN_OUTPUT,
        stateStructType=_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_first_seen_dedup(
    spark,
    input_path: str,
    output_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-source wiring: parquet (key, doc_id, ts) in, deduped
    parquet out; checkpointed state survives restarts."""
    stream = (
        spark.readStream.schema(FIRST_SEEN_OUTPUT)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
    )
    deduped = first_seen_stream(stream)
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "15 minutes",
) -> DataFrame:
    """Watermarked event-time windowed aggregation (the late-data
    pattern): counts + value sums per (event_type, window). Rows
    arriving later than the watermark behind the max seen event time
    are dropped; closed windows emit exactly once (append mode).
    State is bounded by the watermark horizon — the standard
    Structured Streaming shape for unbounded feeds."""
    from pyspark.sql import functions as F

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("nEvents"),
            F.round(F.sum("value"), 4).alias("totalValue"),
        )
        .select(
            F.col("w.start").alias("windowStart"),
            "event_type",
            "nEvents",
            "totalValue",
        )
    )


NEAR_DUP_INPUT = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.LongType()),
    ]
)

NEAR_DUP_OUTPUT = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("band", T.StringType()),
        T.StructField("keeperDocId", T.StringType()),
        T.StructField("ts", T.LongType()),
    ]
)
_ND_STATE = T.StructType(
    [
        T.StructField("first_doc", T.StringType()),
        T.StructField("first_ts", T.LongType()),
    ]
)


def streaming_band_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, text, ts) → exploded (band, doc_id, ts) LSH band keys,
    computed ENTIRELY in-row (array transforms + array_min — zero
    shuffle, so legal in an append-mode stream where the batch path's
    explode→groupBy signature aggregation is not). Band values are
    bit-identical to the batch path (`queries.dedup_minhash_sig`,
    defaults k=8, b=2, r=4): min over the in-row shingle multiset
    equals min over the distinct set — asserted by
    `test_streaming_bands_match_batch`. Docs with no shingles are
    passed over (the batch path drops them too — they can never
    pair).

    Since r6 the shingle/sig/band columns come from the SAME builders
    the batch path uses (functions/minhash.py) — parity is structural.
    The token array and the per-seed minimums are each bound to
    columns before the dependent lambdas so nothing loop-invariant is
    re-evaluated per array position (the r5 O(tokens²) finding applied
    here too: the old inline ``slice(split(text), …)`` re-split the
    text per bigram position)."""
    from pyspark.sql import functions as F

    from ..functions.minhash import N_BANDS, ngram_shingles, with_bands

    # cheap text predicate ≡ "has ≥ 1 valid bigram" (nonspace·space·
    # nonspace): filtering on size(_sh) > 0 instead would be pushdown-
    # inlined into the source scan as the full shingle expression,
    # whose lambda-substituted split re-evaluates per element
    toks = docs.where(F.col("text").rlike("[^ ] [^ ]")).select(
        "doc_id", "ts", F.split(F.col("text"), " ").alias("_tk")
    )
    with_sh = toks.select(
        "doc_id", "ts", ngram_shingles("_tk", 2).alias("_sh")
    )
    bands = with_bands(with_sh, "_sh", ["doc_id", "ts"])
    return bands.select(
        "doc_id",
        "ts",
        F.explode(
            F.array_distinct(F.array(*[f"band{i}" for i in range(N_BANDS)]))
        ).alias("band"),
    )


def _band_bucket_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per band bucket: remember the FIRST doc ever seen; every later
    doc landing in the bucket is emitted as a near-dup candidate
    against that keeper. The batch-global (ts, doc_id) min is resolved
    across ALL Arrow chunks before any row is emitted — a band group
    can span multiple chunks in one micro-batch (large batches, or a
    task retry re-chunking the rows), and a chunk-local election would
    make the keeper depend on chunk boundaries."""
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return
    rows = pd.concat(chunks, ignore_index=True).sort_values(
        ["ts", "doc_id"]
    )
    if state.exists:
        keeper_doc, keeper_ts = state.get
    else:
        first = next(rows.itertuples(index=False))
        keeper_doc, keeper_ts = first.doc_id, int(first.ts)
    out: list[dict] = []
    for r in rows.itertuples(index=False):
        if r.doc_id != keeper_doc:
            out.append(
                {
                    "doc_id": r.doc_id,
                    "band": key[0],
                    "keeperDocId": keeper_doc,
                    "ts": int(r.ts),
                }
            )
    state.update((keeper_doc, keeper_ts))
    if out:
        yield pd.DataFrame(
            out, columns=[f.name for f in NEAR_DUP_OUTPUT]
        )


def near_dup_candidates_stream(stream: DataFrame) -> DataFrame:
    """Streaming MinHash-LSH near-dup detection — the online form of
    the batch shingle→minhash→band→bucket path: each arriving doc is
    flagged against the first doc that ever occupied any of its band
    buckets, across micro-batches and restarts (state-store backed).

    Semantics: band collision = near-dup CANDIDATE (LSH), exactly as
    in the batch path, where `dedup_minhash_pairs` then verifies with
    exact Jaccard; a streaming consumer verifies candidates the same
    way (join content, compute Jaccard) or accepts band-level
    precision. A doc whose bands collide with different keepers emits
    one row per band — consumers take min(keeperDocId) per doc.

    Scale shape: band keys are in-row expressions (no shuffle before
    the stateful op); state is O(distinct band buckets) sharded by the
    state-store partitioning, same as every keyed Structured Streaming
    operator; hot buckets cost state lookups, not cross products —
    nothing quadratic anywhere."""
    bands = streaming_band_keys(stream)
    return bands.groupBy("band").applyInPandasWithState(
        _band_bucket_fn,
        outputStructType=NEAR_DUP_OUTPUT,
        stateStructType=_ND_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_near_dup_stream(
    spark,
    input_path: str,
    output_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """File-source wiring: parquet (doc_id, text, ts) in, near-dup
    candidate parquet out; checkpointed state survives restarts."""
    stream = (
        spark.readStream.schema(NEAR_DUP_INPUT)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_path)
    )
    writer = (
        near_dup_candidates_stream(stream)
        .writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_within_watermark_stream(
    stream: DataFrame,
    key_col: str = "key",
    ts_col: str = "event_ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Built-in bounded-state streaming dedup:
    ``dropDuplicatesWithinWatermark`` keeps one row per key among rows
    whose event times fall within the watermark delay of each other,
    then EVICTS the key's state once the watermark passes — unlike
    ``first_seen_stream`` (state = O(all keys ever), exactly-once
    forever), state here is O(keys within the watermark window), the
    right trade for endless feeds where duplicates cluster in time
    (re-crawls, retry storms). Prefer this built-in whenever the dedup
    horizon is bounded; the custom operator only for unbounded
    first-seen semantics."""
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        [key_col]
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def use_rocksdb_state_store(spark, changelog: bool = True) -> None:
    """Production state-store configuration for the unbounded keyed
    state these operators carry (``first_seen_stream`` and the band
    buckets keep one entry per key FOREVER by design — the state IS
    the corpus memory, so no TTL can apply without changing the dedup
    semantics; a bounded-horizon feed should use
    ``dedup_within_watermark_stream`` instead, whose state evicts with
    the watermark).

    The default HDFS-backed provider holds every state row in executor
    HEAP — at web-corpus key cardinality that is an OOM, not a config
    problem. RocksDB (bundled with Spark since 3.2) spills state to
    executor-local disk with a bounded block cache, which is the only
    deployment shape that survives an ever-growing key space.
    ``changelog`` enables changelog checkpointing (upload per-batch
    deltas instead of full snapshots — the production default for
    large state). Takes effect for queries STARTED after the call; a
    restarted query keeps the provider it was checkpointed with."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled",
        "true" if changelog else "false",
    )


# ---------------------------------------------------- change detection

CHANGE_OUTPUT = T.StructType(
    [
        T.StructField("pageUrl", T.StringType()),
        T.StructField("ts", T.LongType()),
        T.StructField("contentHash", T.StringType()),
        T.StructField("changed", T.IntegerType()),
    ]
)
_CHANGE_STATE = T.StructType(
    [
        T.StructField("lastHash", T.StringType()),
        T.StructField("lastTs", T.LongType()),
    ]
)


def _change_detect_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-page capture-change flags across micro-batches: a capture
    is ``changed=1`` when its fingerprint differs from the previous
    capture of the SAME page, ``0`` when identical, null on the very
    first capture ever seen — exactly the batch ``lag`` semantics of
    queries.crawl_change_rate, with the previous-capture fingerprint
    held in keyed state instead of a window.

    All of the batch's chunks are gathered and sorted by ts BEFORE
    emitting (the _first_seen_fn cross-chunk discipline), so chunk
    boundaries and task retry order never change the flags. Assumes
    per-page captures arrive in non-decreasing ts order ACROSS batches
    (crawl feeds are time-ordered per page); within a batch any order
    is fine."""
    rows = [pdf for pdf in pdfs if len(pdf)]
    if not rows:
        return
    df = pd.concat(rows).sort_values("ts")
    last_hash = state.get[0] if state.exists else None
    out_changed = []
    for h in df["contentHash"]:
        out_changed.append(
            None if last_hash is None else int(h != last_hash)
        )
        last_hash = h
    state.update((last_hash, int(df["ts"].iloc[-1])))
    yield pd.DataFrame(
        {
            "pageUrl": key[0],
            "ts": df["ts"].to_numpy(),
            "contentHash": df["contentHash"].to_numpy(),
            "changed": pd.array(out_changed, dtype="Int32"),
        }
    )


def change_detect_stream(stream: DataFrame) -> DataFrame:
    """(pageUrl, ts, contentHash) capture stream → per-capture change
    flags, continuous across micro-batches (state = one fingerprint
    per page, O(distinct pages) in the state store — RocksDB at
    production cardinality, see use_rocksdb_state_store)."""
    return stream.groupBy("pageUrl").applyInPandasWithState(
        _change_detect_fn,
        outputStructType=CHANGE_OUTPUT,
        stateStructType=_CHANGE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
