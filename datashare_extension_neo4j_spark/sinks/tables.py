"""Graph table sinks (S8 re-expressed): nodes/edges as hash-bucketed
columnar tables + incremental MERGE semantics.

The reference's incremental import is Cypher ``UNWIND … MERGE`` with
ON-MATCH array-union (neo4j-app/neo4j_app/core/neo4j/documents.py:42-80,
named_entities.py:36-48). Our sink would be Iceberg ``MERGE INTO`` when
a catalog is configured; without an Iceberg runtime the store has ONE
layout on vanilla parquet: every table is hash-partitioned on its merge
key (``_bucket = pmod(xxhash64(key), N)``), with N pinned by an
``_n_buckets`` sidecar (the session's ``spark.sql.shuffle.partitions``
unless the writer is given another N). A merge reads ONLY the
partitions the increment touches (partition-pruned scan) and rewrites
ONLY those via dynamic partition overwrite. Incremental cost is
O(touched buckets) — the same asymptotic shape as Iceberg's MERGE INTO
file rewrite, expressed with vanilla parquet.

Older builds could write tables plain (no sidecar). Migration
``v_1_1_0_bucket_plain_tables`` buckets them; until it has run, a merge
into such a table raises.
"""

from __future__ import annotations

from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoints import checkpoints
from ..manifest import Manifest, run_concurrently
from ..observe import observe
from ..pipeline import GraphBuild

BUCKET_COL = "_bucket"
_SIDECAR = "_n_buckets"

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


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """A stored table without its physical bucket column."""
    return spark.read.parquet(path).drop(BUCKET_COL)


def is_bucketed(path: str) -> bool:
    return (Path(path) / _SIDECAR).exists()


def stored_buckets(path: str) -> int:
    """The bucket count N a table was written with (its sidecar)."""
    if not is_bucketed(path):
        raise FileNotFoundError(
            f"{path} is not a bucketed table (no {_SIDECAR} sidecar); a "
            "plain table written by an older build is converted by "
            "`migrate --run-dir <run dir>`"
        )
    return int((Path(path) / _SIDECAR).read_text())


def write_buckets(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    buckets: int | None,
    mode: str,
) -> None:
    """Write ``df`` hash-partitioned on ``key_cols`` into ``buckets``
    buckets (the session's shuffle partition count when None), with
    the sidecar pinning N for later merges (empty buckets leave no
    partition dir, so N can't be inferred from the listing). The write
    is clustered on the bucket (one task, so one file, per bucket): the
    file count does not depend on how many partitions the producing
    plan happens to have. A partitioned write of zero rows leaves no
    file to carry the schema, so an empty table gets a schema-only
    file in bucket 0."""
    n = buckets or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    bucketize(df, key_cols, n).repartition(n, BUCKET_COL).write.mode(
        mode
    ).partitionBy(BUCKET_COL).parquet(path)
    if not any(Path(path).glob(f"{BUCKET_COL}=*")):
        df.limit(0).write.mode("overwrite").parquet(f"{path}/{BUCKET_COL}=0")
    (Path(path) / _SIDECAR).write_text(str(n))


def write_bucketed_table(
    df: DataFrame, path: str, name: str, buckets: int | None = None
) -> None:
    """Write graph table ``name`` bucketed on its merge key."""
    write_buckets(df, path, TABLE_KEYS[name], buckets, "overwrite")


def create_table(
    df: DataFrame, path: str, name: str, buckets: int | None = None
) -> None:
    """Create graph table ``name`` from new input: the uniqueness gate
    of ``merge_table``, then a bucketed write. (``rewrite_table`` is
    ungated: a migration may run over a store it is repairing.)"""
    _assert_unique_input(df, name)
    write_bucketed_table(df, path, name, buckets)


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
    # stage via a checkpoint: the merged plan lazily READS the very
    # files a direct overwrite would delete, so it must be materialized
    # first — an executor-storage checkpoint does that with ONE
    # physical parquet write of the touched partitions (a tmp-dir
    # parquet stage writes them twice). The overwrite mode rides on the
    # writer, not the session conf, so concurrent writers (streaming
    # micro-batches, write_tables' threads) never observe
    # dynamic-overwrite semantics unintentionally.
    with checkpoints(spark) as ck:
        ck.pin(merged).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(BUCKET_COL).parquet(path)
    return touched


def rewrite_table(spark: SparkSession, path: str, name: str, transform) -> None:
    """Full-table rewrite for the data migrations: apply
    ``transform(df)`` and write back bucketed with the stored N. A
    plain table of an older build (no sidecar) comes back bucketed
    with the session default N, so a migration that reaches it before
    ``v_1_1_0_bucket_plain_tables`` converts it on the way."""
    n = stored_buckets(path) if is_bucketed(path) else None
    # materialize before overwriting the files the plan lazily reads
    with checkpoints(spark) as ck:
        write_bucketed_table(
            ck.pin(transform(read_table(spark, path))), path, name, n
        )


def stored_rows(path: str) -> int:
    """Rows of a stored table, summed from its parquet footers: no data
    is read and no job runs. The table must be a local directory (as
    every store's sidecar and manifest are): a path this process cannot
    list raises instead of reading as empty."""
    import pyarrow.parquet as pq

    if not Path(path).is_dir():
        raise FileNotFoundError(f"no local table directory at {path}")
    return sum(
        pq.read_metadata(f).num_rows for f in Path(path).rglob("*.parquet")
    )


def write_tables(
    spark: SparkSession,
    run_dir: str,
    tables: dict[str, DataFrame],
    buckets: int | None = None,
    **records: dict,
) -> dict[str, int]:
    """The one writer of graph tables into a run dir. Each named table
    is MERGEd into the stored one (``merge_table``), or created
    bucketed into ``buckets`` buckets (``create_table``) when the run
    dir has none yet. Returns the rows each write created, read
    from the parquet footers.

    The writes are independent jobs, run concurrently
    (``manifest.run_concurrently``) so the scheduler interleaves their
    stages, each inside its own ``observe``. Once all have succeeded,
    one ``increments`` entry is appended to the run dir's manifest:
    each table's record, plus the caller's ``records``. A failing write
    raises after the other writes finish, and nothing is recorded."""

    def write(name: str, df: DataFrame) -> tuple[int, dict]:
        path = f"{run_dir}/{name}"
        with observe() as record:
            if Path(path).exists():
                created = merge_table(spark, path, df, name)
            else:
                create_table(df, path, name, buckets)
                created = stored_rows(path)
        return created, record

    done = run_concurrently(
        spark, {name: partial(write, name, df) for name, df in tables.items()}
    )
    Manifest(run_dir).record_increment(
        tables={name: record for name, (_, record) in done.items()}, **records
    )
    return {name: created for name, (created, _) in done.items()}


def materialize_graph(
    g: GraphBuild, out_dir: str, buckets: int | None = None
) -> dict[str, str]:
    """Write the five graph tables through ``write_tables``; returns
    name → path. Every table is hash-partitioned on its merge key
    (module docstring) into ``buckets`` buckets; N should be sized so
    one bucket ≈ one comfortable task (e.g. 1024-8192 at 100 TB)."""
    write_tables(
        g.docs.sparkSession, out_dir,
        {name: getattr(g, name) for name in TABLE_KEYS}, buckets,
    )
    return {name: f"{out_dir}/{name}" for name in TABLE_KEYS}


def load_store(spark: SparkSession, run_dir: str) -> GraphBuild:
    """The five stored graph tables of a run dir (bucket column
    dropped), as the GraphBuild a sink or dump consumes."""
    return GraphBuild(
        **{name: read_table(spark, f"{run_dir}/{name}") for name in TABLE_KEYS}
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


# The uniqueness gate (migrations.CONSTRAINTS, the reference's
# constraint_document_unique_id analog) on new input before it is
# written: a batch that would corrupt the key raises
# ConstraintViolation instead of landing. Only docs needs it:
# combine_docs is newest-wins against OLD rows only and a create has no
# combine, so a batch carrying one id twice (two docs claiming the same
# id) would land both. The aggregating combines (appears_in/emails
# groupBy, dropDuplicates) are unique by construction.
_ENFORCE_UNIQUE_UPDATES = {"docs"}


def _assert_unique_input(df: DataFrame, name: str) -> None:
    if name in _ENFORCE_UNIQUE_UPDATES:
        from ..migrations import CONSTRAINTS, assert_unique

        assert_unique(df, CONSTRAINTS[name]["unique"], name)


def merge_table(
    spark: SparkSession, path: str, updates: DataFrame, name: str
) -> int:
    """MERGE ``updates`` into the stored table ``name``: a
    partition-scoped rewrite of the buckets the increment touches.
    Returns the number of rows the merge CREATES: the table's footer
    row count after the write minus before it. Every combine leaves
    the table unique on its merge key, so ON MATCH updates in place
    and the growth is exactly the keys absent from the store. The
    increment passes the uniqueness gate first."""
    _assert_unique_input(updates, name)
    n = stored_buckets(path)
    before = stored_rows(path)
    merge_bucketed(spark, path, updates, TABLE_KEYS[name], COMBINE[name], n)
    return stored_rows(path) - before


def incremental_import(
    spark: SparkSession,
    pages: DataFrame,
    run_dir: str,
    project: str = "test_project",
) -> dict:
    """Incremental run against a run_dir (the reference's POST
    /full-imports re-run semantics, SURVEY.md §3.1): documents
    upserted by id, HAS_PARENT edges set-merged, APPEARS_IN edges
    array-union-merged, entities deduped (created in a run dir
    without tables). Returns counters.

    The Python parse runs ONCE: its output is checkpointed to parquet,
    and the five writes scan the checkpoint. The counters come from
    parquet footers, as the reference reads them off the Cypher
    ``ResultSummary``: no job counts anything."""
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
    try:
        with observe() as parse:
            g = build_graph(
                pages, project=project, use_rule_ner=True, checkpoint_dir=ckpt
            )
        # one parsed row per page, and one document per parsed row
        imported = stored_rows(f"{ckpt}/parsed")
        created = write_tables(
            spark, run_dir, {name: getattr(g, name) for name in TABLE_KEYS},
            parse=parse,
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return {
        "imported": imported,
        "nodes_created": created["docs"],
        "relationships_created": created["doc_roots"]
        + created["appears_in"]
        + created["emails"],
        "entities_created": created["entities"],
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
    doc_ids = read_table(spark, f"{run_dir}/docs").select(
        F.col("id").alias("documentId")
    )
    m = mentions.join(doc_ids, "documentId", "left_semi")
    imported = m.count()
    created = write_tables(
        spark,
        run_dir,
        {
            "appears_in": appears_in_edges(m),
            "emails": email_edges(m),
            "entities": entity_nodes(m),
        },
    )
    return {
        "imported": imported,
        "skipped_orphans": total - imported,
        "nodes_created": 0,
        "relationships_created": created["appears_in"] + created["emails"],
        "entities_created": created["entities"],
    }
