"""Incremental host-graph maintenance: an idempotent batch ledger.

Host-graph counts are additive, but the bucketed MERGE machinery's
retry-safety contract (sinks/tables.py:merge_bucketed) requires
idempotent combines — a naive "sum on match" would double-count
whenever a job retry replays a merge over a partially-overwritten
table. The store is therefore a LEDGER of per-batch partial
aggregates keyed ``(srcHost, dstHost, batchId)``: merging the same
batch twice REPLACES its rows (new-wins key combine — idempotent
under job retry), and the queryable host graph is the SUM over batch
partials (``read_host_graph``) — the Iceberg append-plus-compaction
shape without the (unavailable) runtime jar. Batch CONTENT is
immutable (the crawl-batch contract): replaying a batch id with
different, smaller content is not a supported revision mechanism —
old ledger rows in buckets the replay doesn't touch would survive.

Assumes batches partition the page stream — standard crawl-batch
semantics: a re-fetch of a page is a new capture in a NEW batch and
legitimately contributes again.

Scale shape: each increment aggregates only its own batch down to
host-pair partials (vocabulary-scale, never corpus-scale), the merge
rewrites only the ledger buckets the batch touches, and
read/compaction is one groupBy over the ledger — which holds
(host pairs × batches) rows, orders of magnitude below the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.weblinks import host_graph
from .tables import (
    merge_bucketed,
    read_table,
    stored_buckets,
    stored_rows,
    write_buckets,
)

LEDGER_KEYS = ["srcHost", "dstHost", "batchId"]
DEFAULT_BUCKETS = 8


def host_graph_batch(links: DataFrame, batch_id: str) -> DataFrame:
    """Host-pair partial aggregates for ONE batch of extracted links,
    stamped with the batch id (the ledger's idempotence key)."""
    return host_graph(links).withColumn("batchId", F.lit(batch_id))


def _replace_batch(old: DataFrame, new: DataFrame) -> DataFrame:
    # new-wins on the ledger key: re-merging a batch replaces its
    # rows instead of duplicating them (idempotent under retry of the
    # same immutable batch content — see module contract)
    return old.join(
        new.select(*LEDGER_KEYS).distinct(), LEDGER_KEYS, "left_anti"
    ).unionByName(new)


def init_webgraph_store(
    spark: SparkSession,
    links: DataFrame,
    store_path: str,
    batch_id: str = "init",
    n_buckets: int = DEFAULT_BUCKETS,
) -> int:
    """Create the ledger from an initial link batch (bucketed on the
    ledger key so later merges rewrite only touched partitions).
    Returns the number of ledger rows written, read from the parquet
    footers."""
    write_buckets(
        host_graph_batch(links, batch_id),
        store_path,
        LEDGER_KEYS,
        n_buckets,
        "errorifexists",
    )
    return stored_rows(store_path)


def merge_webgraph_batch(
    spark: SparkSession,
    store_path: str,
    links: DataFrame,
    batch_id: str,
) -> dict:
    """MERGE one batch's host-pair partials into the ledger
    (partition-scoped rewrite of touched buckets only; idempotent —
    re-running the same batch converges to the same store). Returns
    counters: partial rows merged + buckets rewritten."""
    part = host_graph_batch(links, batch_id)
    touched = merge_bucketed(
        spark,
        store_path,
        part,
        LEDGER_KEYS,
        _replace_batch,
        stored_buckets(store_path),
    )
    return {
        "batch_id": batch_id,
        "partial_rows": part.count(),
        "touched_buckets": len(touched),
    }


def read_host_graph(spark: SparkSession, store_path: str) -> DataFrame:
    """The queryable host graph: partials summed across batches —
    identical to ``host_graph`` over the union of all batches' links,
    PROVIDED batches partition the page stream (each page's links land
    in exactly one batch, so per-batch nPages partials are additive)."""
    return read_table(spark, store_path).groupBy("srcHost", "dstHost").agg(
        F.sum("nLinks").cast("long").alias("nLinks"),
        F.sum("nPages").cast("long").alias("nPages"),
    )
