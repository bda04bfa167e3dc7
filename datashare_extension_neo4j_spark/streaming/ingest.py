"""Structured Streaming ingestion of pages → incremental graph.

The reference is incremental-batch, not streaming (SURVEY.md §2.10) —
its incrementality is re-running imports with MERGE upserts. The
streaming ingest here is the Spark-native generalization: new page
files land in the input directory, each micro-batch runs the batch
pipeline's own parse, docs and appears_in stages (pipeline.STAGES), and
``foreachBatch`` MERGEs them into the graph tables with
``sinks.tables.merge_table`` (docs newest-wins by id; APPEARS_IN
array-union, reference named_entities.py:84-97) — so batch re-import
and continuous ingest share one code path, and a micro-batch Spark
replays after a crash (written, offset not yet committed) lands once.

``trigger(availableNow=True)`` drains what exists and stops — used by
tests and backfills; drop it for continuous operation.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..operators.edges import appears_in_from_parsed
from ..operators.extract import PARSED_SCHEMA
from ..pipeline import BuildOptions, docs_stage, parse_stage
from ..schemas import PAGES_SCHEMA
from ..sinks.tables import merge_table, write_bucketed_table


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
    """Streaming pages → docs + APPEARS_IN tables, MERGEd per
    micro-batch (the first batch creates them)."""
    pages = stream_pages(spark, input_path)
    o = BuildOptions(use_rule_ner=True, include_text=False)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # small per-batch frames: one persist avoids a double parse
        parsed = parse_stage(o, batch_df).persist()
        try:
            for name, df in (
                ("docs", docs_stage(o, parsed).drop("metadata")),
                ("appears_in", appears_in_from_parsed(parsed)),
            ):
                path = f"{out_dir}/{name}"
                if Path(path).exists():
                    # rewrites only the buckets this micro-batch touches
                    merge_table(spark, path, df, name)
                else:
                    write_bucketed_table(df, path, name)
        finally:
            parsed.unpersist()

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


__all__ = [
    "stream_pages",
    "start_graph_ingest",
    "start_pii_scrub_stream",
    "PARSED_SCHEMA",
]
