"""Graph table sinks (S8 re-expressed): nodes/edges as partitioned
columnar tables + incremental MERGE semantics.

The reference's incremental import is Cypher ``UNWIND … MERGE`` with
ON-MATCH array-union (neo4j-app/neo4j_app/core/neo4j/documents.py:42-80,
named_entities.py:36-48). Our sink would be Iceberg ``MERGE INTO`` when
a catalog is configured; this sandbox ships no Iceberg runtime jar (and
no network to vendor one), so two fallbacks exist:

  * plain layout: read-old ∪ new → re-aggregate → full overwrite —
    O(table) per increment, fine for small stores;
  * bucketed layout (``materialize_graph(..., buckets=N)``): each table
    is hash-partitioned on its merge key (``_bucket =
    pmod(xxhash64(key), N)``); a merge reads ONLY the partitions the
    increment touches (partition-pruned scan) and rewrites ONLY those
    via dynamic partition overwrite. Incremental cost is O(touched
    buckets) — the same asymptotic shape as Iceberg's MERGE INTO file
    rewrite, expressed with vanilla parquet.

``incremental_import`` auto-detects the layout per table.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import GraphBuild

BUCKET_COL = "_bucket"

# merge key per graph table (also the bucketing key)
TABLE_KEYS: dict[str, list[str]] = {
    "docs": ["id"],
    "doc_roots": ["src", "dst"],
    "entities": ["mentionNorm", "category"],
    "appears_in": ["startId", "endId", "type"],
    "emails": ["startId", "endId", "type"],
}


def bucketize(df: DataFrame, key_cols: list[str], n: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(*key_cols), F.lit(n))
    )


def _read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read dropping the physical bucket column if present."""
    df = spark.read.parquet(path)
    return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df


def _touched_buckets(
    updates: DataFrame, key_cols: list[str], n_buckets: int
) -> list[int]:
    """Distinct bucket ids the updates' merge keys hash into."""
    return [
        r[0]
        for r in bucketize(updates, key_cols, n_buckets)
        .select(BUCKET_COL)
        .distinct()
        .collect()
    ]


def _read_for_keys(
    spark: SparkSession, path: str, keys: DataFrame, name: str
) -> DataFrame:
    """Stored rows that could share a merge key with ``keys``: on the
    bucketed layout only the touched partitions are scanned (every row
    whose key appears in ``keys`` hashes into a touched bucket, so
    joins/anti-joins against this frame equal those against the full
    table) — keeps incremental COUNTERS O(increment), not O(table).
    Plain layout falls back to the full read."""
    sidecar = Path(path) / "_n_buckets"
    if not sidecar.exists():
        return _read_table(spark, path)
    touched = _touched_buckets(
        keys, TABLE_KEYS[name], int(sidecar.read_text())
    )
    return (
        spark.read.parquet(path)
        .where(F.col(BUCKET_COL).isin(touched or [-1]))
        .drop(BUCKET_COL)
    )


def write_bucketed_table(
    df: DataFrame, path: str, name: str, buckets: int
) -> None:
    """Write one graph table hash-partitioned on its merge key, with
    the ``_n_buckets`` sidecar pinning N for later merges (empty
    buckets leave no partition dir, so N can't be inferred from the
    listing). The write is clustered on the bucket (one task, so one
    file, per bucket): the file count does not depend on how many
    partitions the producing plan happens to have. An EMPTY frame is
    written plain instead: a partitioned write of zero rows produces
    no files at all (schema unreadable), so empty tables stay in the
    plain layout until data arrives."""
    if df.isEmpty():
        df.write.mode("overwrite").parquet(path)
        return
    bucketize(df, TABLE_KEYS[name], buckets).repartition(
        buckets, BUCKET_COL
    ).write.mode("overwrite").partitionBy(BUCKET_COL).parquet(path)
    (Path(path) / "_n_buckets").write_text(str(buckets))


def merge_bucketed(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    combine,
    n_buckets: int,
) -> list[int]:
    """Partition-scoped MERGE: read only the buckets the increment
    touches, combine old ∪ new there, rewrite only those partitions
    (dynamic partition overwrite). ``combine(old, new) -> DataFrame``
    holds the per-table ON MATCH semantics. Returns touched buckets."""
    up = bucketize(updates, key_cols, n_buckets)
    touched = [r[0] for r in up.select(BUCKET_COL).distinct().collect()]
    if not touched:
        # empty increment: nothing to merge — and a partitioned write
        # of zero rows would produce an unreadable tmp dir (no files)
        return []
    old = (
        spark.read.parquet(path)
        .where(F.col(BUCKET_COL).isin(touched))
        .drop(BUCKET_COL)
    )
    merged = bucketize(combine(old, up.drop(BUCKET_COL)), key_cols, n_buckets)
    # stage via localCheckpoint: the merged plan lazily READS the very
    # files a direct overwrite would delete, so it must be materialized
    # first — an executor-storage checkpoint does that with ONE
    # physical parquet write of the touched partitions (a tmp-dir
    # parquet stage writes them twice). Trade-off, deliberate: the
    # checkpoint blocks live on executors with truncated lineage, so
    # losing an executor mid-merge fails the JOB (not just a task).
    # That is safe because every COMBINE is idempotent (set-union /
    # key-dedup / newest-wins), so an external job retry over a
    # partially-overwritten table converges to the same result; at
    # heavy-preemption scale, set a reliable checkpoint dir and swap
    # localCheckpoint → checkpoint to regain task-level recovery at
    # the cost of the second write. The overwrite mode rides on the
    # writer, not the session conf, so concurrent writers (streaming
    # micro-batches, materialize_graph's thread pool) never observe
    # dynamic-overwrite semantics unintentionally.
    staged = merged.localCheckpoint()
    try:
        staged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(BUCKET_COL).parquet(path)
    finally:
        staged.unpersist()
    return touched


def rewrite_table(spark: SparkSession, path: str, name: str, transform) -> None:
    """Layout-preserving full-table rewrite: apply ``transform(df)`` and
    write back keeping the bucketed partitioning (and ``_n_buckets``
    sidecar) when present — data migrations must not silently flatten a
    bucketed store back to the O(table)-per-merge plain layout."""
    sidecar = Path(path) / "_n_buckets"
    out = transform(_read_table(spark, path))
    # materialize before overwriting the files the plan lazily reads
    staged = out.localCheckpoint()
    try:
        if sidecar.exists():
            write_bucketed_table(
                staged, path, name, int(sidecar.read_text())
            )
        else:
            staged.write.mode("overwrite").parquet(path)
    finally:
        staged.unpersist()


def materialize_graph(
    g: GraphBuild, out_dir: str, buckets: int | None = None
) -> dict[str, str]:
    """Write the five graph tables; returns name → path.

    The five writes are independent jobs over the same checkpointed
    input — submitting them concurrently lets the scheduler interleave
    their stages (wall ≈ max instead of sum of fixed job costs).

    ``buckets=N`` hash-partitions every table on its merge key so
    later increments rewrite only touched partitions (module
    docstring); N should be sized so one bucket ≈ one comfortable
    task (e.g. 1024-8192 at 100 TB)."""
    from concurrent.futures import ThreadPoolExecutor

    paths = {name: f"{out_dir}/{name}" for name in TABLE_KEYS}

    def write_one(name: str) -> None:
        df = getattr(g, name)
        if buckets:
            write_bucketed_table(df, paths[name], name, buckets)
        else:
            df.write.mode("overwrite").parquet(paths[name])

    with ThreadPoolExecutor(max_workers=len(paths)) as ex:
        for f in [ex.submit(write_one, name) for name in paths]:
            f.result()
    return paths


def load_store(spark: SparkSession, run_dir: str) -> GraphBuild:
    """The five stored graph tables of a run dir (bucket column
    dropped), as the GraphBuild a sink or dump consumes."""
    return GraphBuild(
        **{name: _read_table(spark, f"{run_dir}/{name}") for name in TABLE_KEYS}
    )


def combine_docs(old: DataFrame, new: DataFrame) -> DataFrame:
    """MERGE on id, ON MATCH/CREATE SET all props — newest wins
    (reference documents.py:42-80)."""
    kept = old.join(new.select("id"), "id", "left_anti")
    return kept.unionByName(new, allowMissingColumns=True)


def _combine_dedup(keys: list[str]):
    def combine(old: DataFrame, new: DataFrame) -> DataFrame:
        return old.unionByName(new).dropDuplicates(keys)

    return combine


_MERGED_ARR = lambda c: F.array_sort(  # noqa: E731
    F.array_distinct(F.flatten(F.collect_list(F.col(c))))
)


def combine_appears_in(old: DataFrame, new: DataFrame) -> DataFrame:
    """ON MATCH union arrays (sorted-set semantics, reference
    named_entities.py:84-97 + O1), ON CREATE insert — associative, so
    any number of increments compose."""
    both = old.unionByName(new)
    return (
        both.groupBy("startId", "endId", "type")
        .agg(
            F.first("mentionNorm").alias("mentionNorm"),
            F.first("category").alias("category"),
            _MERGED_ARR("mentionIds").alias("mentionIds"),
            _MERGED_ARR("mentionExtractors").alias("mentionExtractors"),
            _MERGED_ARR("offsets").alias("offsets"),
            F.min("extractorLanguage").alias("extractorLanguage"),
        )
        .withColumn("mentionCount", F.size(F.col("mentionIds")))
    )


def combine_emails(old: DataFrame, new: DataFrame) -> DataFrame:
    """ON MATCH union the fields header set (reference
    named_entities.py:36-48)."""
    both = old.unionByName(new)
    return both.groupBy("startId", "endId", "type").agg(
        F.first("mentionNorm").alias("mentionNorm"),
        F.first("category").alias("category"),
        _MERGED_ARR("fields").alias("fields"),
    )


COMBINE = {
    "docs": combine_docs,
    "doc_roots": _combine_dedup(["src", "dst"]),
    "entities": _combine_dedup(["mentionNorm", "category"]),
    "appears_in": combine_appears_in,
    "emails": combine_emails,
}


# tables whose combine does NOT structurally canonicalize the key:
# combine_docs is newest-wins against OLD rows only, so an increment
# carrying one id twice (two different docs claiming the same id)
# would land both and corrupt the table. The aggregating combines
# (appears_in/emails groupBy, dropDuplicates) are structurally unique
# post-merge, so only the updates-side of docs needs the gate.
_ENFORCE_UNIQUE_UPDATES = {"docs"}


def merge_table(
    spark: SparkSession, path: str, updates: DataFrame, name: str
) -> None:
    """MERGE ``updates`` into the stored table, auto-detecting layout:
    bucketed → partition-scoped rewrite of touched buckets only;
    plain → full read-combine-overwrite.

    Enforces the table's uniqueness constraint (migrations.CONSTRAINTS,
    the reference's constraint_document_unique_id analog) on the
    increment BEFORE merging — a batch that would corrupt the key
    raises ConstraintViolation instead of silently landing."""
    if name in _ENFORCE_UNIQUE_UPDATES:
        from ..migrations import CONSTRAINTS, assert_unique

        assert_unique(updates, CONSTRAINTS[name]["unique"], name)
    sidecar = Path(path) / "_n_buckets"
    if sidecar.exists():
        n = int(sidecar.read_text())
        merge_bucketed(
            spark, path, updates, TABLE_KEYS[name], COMBINE[name], n
        )
    else:
        merged = COMBINE[name](_read_table(spark, path), updates)
        overwrite_parquet(spark, merged, path)


def merge_docs(
    spark: SparkSession, existing_path: str, updates: DataFrame
) -> tuple[DataFrame, dict]:
    """Incremental document upsert. Returns (merged, counters) with
    the reference's ImportSummary shape (imports.py:130-135):
    imported / nodes_created."""
    old = _read_table(spark, existing_path)
    imported = updates.count()
    created = updates.join(old, "id", "left_anti").count()
    return combine_docs(old, updates), {
        "imported": imported, "nodes_created": created,
    }


def overwrite_parquet(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Safe read-modify-write for parquet (write tmp, swap). Iceberg
    MERGE INTO replaces this when a catalog is configured."""
    import shutil

    tmp = f"{path}__tmp"
    df.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
    shutil.rmtree(tmp, ignore_errors=True)


def incremental_import(
    spark: SparkSession,
    pages: DataFrame,
    run_dir: str,
    project: str = "test_project",
) -> dict:
    """Incremental run against an existing run_dir (the reference's
    POST /full-imports re-run semantics, SURVEY.md §3.1): documents
    upserted by id, HAS_PARENT edges set-merged, APPEARS_IN edges
    array-union-merged, entities deduped. Returns counters.

    The Python parse runs ONCE per increment: the parse output is
    stage-checkpointed to parquet (``checkpoint_dir``), so the 6-8
    downstream actions (per-table counters + merges) all do pruned
    columnar scans of the checkpoint instead of re-executing the
    mapInPandas parse — the reference gets its counters free from the
    Cypher ``ResultSummary``; this is the Spark equivalent."""
    import shutil
    import uuid

    from ..pipeline import build_graph

    # per-invocation UNIQUE staging dir, kept ON the store's storage:
    # executors must reach it (a driver-local /tmp would be invisible
    # on a multi-node cluster), and run_dir's filesystem is already
    # shared — merge_table depends on that. The unique suffix removes
    # the collision between concurrent increments; a hard kill can
    # leave a stale `_increment_ckpt_*` dir behind, which is inert
    # (never read by table scans) and safe to delete by prefix.
    ckpt = f"{run_dir}/_increment_ckpt_{uuid.uuid4().hex}"
    g = build_graph(
        pages, project=project, use_rule_ner=True, include_text=False,
        checkpoint_dir=ckpt,
    )
    try:
        return _incremental_merge(spark, g, run_dir)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _created_count(
    spark: SparkSession, path: str, updates: DataFrame, name: str
) -> int:
    """Update keys not yet stored = rows/edges the merge will CREATE
    (ON MATCH paths update in place, so only new keys add rows).
    Anti-join against the partition-pruned slice — O(increment) on the
    bucketed layout, never a full-table scan."""
    keys = TABLE_KEYS[name]
    old = _read_for_keys(spark, path, updates, name).select(*keys)
    return updates.select(*keys).join(old, keys, "left_anti").count()


def _incremental_merge(spark: SparkSession, g, run_dir: str) -> dict:
    docs_path = f"{run_dir}/docs"
    doc_counters = {
        "imported": g.docs.count(),
        "nodes_created": _created_count(spark, docs_path, g.docs, "docs"),
    }
    merge_table(spark, docs_path, g.docs, "docs")

    roots_path = f"{run_dir}/doc_roots"
    roots_created = _created_count(
        spark, roots_path, g.doc_roots, "doc_roots"
    )
    merge_table(spark, roots_path, g.doc_roots, "doc_roots")

    appears_path = f"{run_dir}/appears_in"
    appears_created = _created_count(
        spark, appears_path, g.appears_in, "appears_in"
    )
    merge_table(spark, appears_path, g.appears_in, "appears_in")

    emails_path = f"{run_dir}/emails"
    emails_created = _created_count(spark, emails_path, g.emails, "emails")
    merge_table(spark, emails_path, g.emails, "emails")

    ents_path = f"{run_dir}/entities"
    ents_created = _created_count(spark, ents_path, g.entities, "entities")
    merge_table(spark, ents_path, g.entities, "entities")
    return {
        **doc_counters,
        "relationships_created": roots_created
        + appears_created
        + emails_created,
        "entities_created": ents_created,
    }


def incremental_import_mentions(
    spark: SparkSession, mentions: DataFrame, run_dir: str
) -> dict:
    """NE-only incremental batch: mentions whose parent documents were
    imported by a PRIOR run (reference imports.py:829-871 — the NE
    import is restricted to parents already present in the sink;
    documents.py:83-95 supplies the imported-doc id stream).

    Mentions referencing unknown documents are dropped by the semi-join
    (the reference never imports an NE without its parent); the rest
    are aggregated to APPEARS_IN / SENT / RECEIVED edges + entities and
    array-union-MERGEd into the existing tables. Returns the
    ImportSummary-shaped counters (imports.py:130-135)."""
    from ..operators.edges import appears_in_edges, email_edges
    from ..operators.entities import entity_nodes

    total = mentions.count()
    doc_ids = (
        spark.read.parquet(f"{run_dir}/docs")
        .select(F.col("id").alias("documentId"))
    )
    m = mentions.join(doc_ids, "documentId", "left_semi")
    imported = m.count()

    appears_path = f"{run_dir}/appears_in"
    new_appears = appears_in_edges(m)
    appears_created = _created_count(
        spark, appears_path, new_appears, "appears_in"
    )
    merge_table(spark, appears_path, new_appears, "appears_in")

    emails_path = f"{run_dir}/emails"
    new_emails = email_edges(m)
    emails_created = _created_count(spark, emails_path, new_emails, "emails")
    merge_table(spark, emails_path, new_emails, "emails")

    ents_path = f"{run_dir}/entities"
    new_ents = entity_nodes(m)
    ents_created = _created_count(spark, ents_path, new_ents, "entities")
    merge_table(spark, ents_path, new_ents, "entities")
    return {
        "imported": imported,
        "skipped_orphans": total - imported,
        "nodes_created": 0,
        "relationships_created": appears_created + emails_created,
        "entities_created": ents_created,
    }


def merge_appears_in(
    spark: SparkSession, existing_path: str, updates: DataFrame
) -> DataFrame:
    """Path wrapper over combine_appears_in (read old, return merged)."""
    return combine_appears_in(_read_table(spark, existing_path), updates)
