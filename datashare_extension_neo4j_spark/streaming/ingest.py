"""Structured Streaming ingestion of pages → incremental graph.

The reference is incremental-batch, not streaming (SURVEY.md §2.10) —
its incrementality is re-running imports with MERGE upserts. The
streaming ingest here is the Spark-native generalization: new page
files land in the input directory, and ``foreachBatch`` hands each
non-empty micro-batch to ``sinks.tables.incremental_import``, the batch
re-import itself. Its one store writer creates the five graph tables on
the first batch and MERGEs into them after (docs newest-wins by id;
APPEARS_IN array-union, reference named_entities.py:84-97), and appends
one ``increments`` entry per micro-batch to the run dir's manifest — so
batch re-import and continuous ingest share one code path, and a
micro-batch Spark replays after a crash (written, offset not yet
committed) lands once.

``trigger(availableNow=True)`` drains what exists and stops — used by
tests and backfills; drop it for continuous operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import PAGES_SCHEMA
from ..sinks.tables import incremental_import


def stream_pages(spark: SparkSession, input_path: str) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )


def start_graph_ingest(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming pages → the five graph tables in ``out_dir``: one
    ``incremental_import`` per non-empty micro-batch (the first batch
    creates the tables)."""
    pages = stream_pages(spark, input_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            incremental_import(spark, batch_df, out_dir)

    writer = (
        pages.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_pii_scrub_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous PII scrubbing of a landing document stream: the
    SAME in-row rules as the batch ``pii_scrub`` query (the redaction
    expressions are stateless JVM projections, so they compose into
    ``readStream`` unchanged — bit-identical outputs to the batch
    scrub, tested). Scrubbed docs append to parquet; the checkpoint
    makes delivery exactly-once per input file."""
    from functools import reduce
    from operator import add

    from pyspark.sql import functions as F

    from ..functions.pii import redact_pii, staged_pii_counts

    docs = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )
    scrubbed = docs.select(
        "doc_id",
        redact_pii(F.col("text")).alias("text"),
        # staged counts: nRedacted equals the number of placeholders
        # actually written into the scrubbed text
        reduce(add, staged_pii_counts(F.col("text"))).alias("nRedacted"),
    )
    writer = (
        scrubbed.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
