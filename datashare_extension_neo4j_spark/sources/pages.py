"""Pages source (S1-S5 re-expressed): Iceberg table when a catalog is
configured, partitioned parquet otherwise.

Reference scan mechanics → Spark equivalents (SURVEY.md §2.1):
  * sliced parallel scan (client.py:635-653)  → input splits
  * PIT snapshot (client.py:205-220)          → Iceberg snapshot-id /
    parquet path fingerprint pinned in the manifest
  * count pre-pass (client.py:378-386)        → snapshot metadata
  * projection pushdown (_source whitelists)  → column pruning
  * type/id/match_all predicates              → pushed filters +
    partition pruning on (lang, warc_day)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _has_iceberg(spark: SparkSession, table: str) -> bool:
    if "/" in table or table.endswith(".parquet"):
        return False
    try:
        spark.sql(f"DESCRIBE TABLE {table}").collect()
        return True
    except Exception:
        return False


def read_pages(
    spark: SparkSession,
    source: str,
    snapshot_id: int | None = None,
    langs: list[str] | None = None,
    since: str | None = None,
    until: str | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Load the pages table with pushdown-able pruning filters.

    ``source`` is an Iceberg table name (catalog configured) or a
    parquet path. ``snapshot_id`` pins an Iceberg snapshot (PIT
    equivalent); the parquet fallback relies on the manifest's path
    fingerprint for the same guarantee.
    """
    if _has_iceberg(spark, source):
        reader = spark.read
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        df = reader.table(source)
    else:
        if snapshot_id is not None:
            # never silently drop a point-in-time pin: reading current
            # data while the caller believes it pinned a snapshot is a
            # correctness hazard (manifests would record a PIT that was
            # never applied)
            raise ValueError(
                f"snapshot_id={snapshot_id} requires an Iceberg table; "
                f"{source!r} resolves to the parquet fallback (no "
                "catalog, transient catalog error, or a path was given)"
            )
        df = spark.read.parquet(source)
    if langs:
        df = df.where(F.col("lang").isin(*langs))
    ts_col = "warc_day" if "warc_day" in df.columns else "warc_ts"
    if since:
        df = df.where(F.col(ts_col) >= since)
    if until:
        df = df.where(F.col(ts_col) < until)
    if columns:
        df = df.select(*columns)
    return df


def count_pages(spark: SparkSession, source: str, **filters) -> int:
    """Count pre-pass (progress sizing) — metadata-only when possible."""
    return read_pages(spark, source, **filters).count()


def widen(df: DataFrame, path: str | None = None) -> DataFrame:
    """Scale-adaptive parallelism guard (guide §2.5, input skew): a
    small input (one parquet file → one scan split) serializes every
    downstream map stage — the Python parse kernel, the hash-heavy
    MinHash/SimHash kernels — on a single core. Widen with a
    round-robin repartition ONLY when the scan is narrower than the
    cluster; at real scale the scan already carries >=
    defaultParallelism splits and this is a structural no-op —
    nothing is tuned to either mode. Round-robin is retry-safe
    (sortBeforeRepartition) and every consumer's result is
    partitioning-independent.

    The decision reads the input's byte size from the (Hadoop)
    filesystem — ``path`` when given, else ``df.inputFiles()`` —
    stopping once past the threshold (~ms), instead of converting the
    plan to an RDD (~0.2 s of driver wall). The split math mirrors
    Spark's: with openCostInBytes = 4 MB the scan cannot reach ``n``
    splits when the input is under n × 4 MB, and reaches it
    comfortably above; the band between is a no-widen (the scan is
    already within ~32× of the cluster width). Inputs with no files
    (local frames) use the exact plan-derived partition count. Not
    memoized: a path whose data grows gets a fresh decision."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    threshold = n * 4 * 1024 * 1024
    narrow = None
    try:
        paths = [path] if path is not None else df.inputFiles()
        if paths:
            jvm = spark._jvm
            conf = spark._jsc.hadoopConfiguration()
            total = 0
            for f in paths:
                p = jvm.org.apache.hadoop.fs.Path(f)
                total += p.getFileSystem(conf).getContentSummary(p).getLength()
                if total >= threshold:
                    break
            narrow = total < threshold
    except Exception:
        pass  # probe unavailable: decide from the plan below
    if narrow is None:
        narrow = df.rdd.getNumPartitions() < n
    return df.repartition(n) if narrow else df
