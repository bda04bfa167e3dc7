"""Schema constraints + versioned migrations (the reference's
neo4j-app/neo4j_app/core/neo4j/migrations.py re-expressed for columnar
tables).

The reference runs a versioned migration ladder against Neo4j:
uniqueness constraints on Document.id / NamedEntity.id / Stats.id
(migrations.py:73-87,146-153), lookup indexes on mentionNorm, path,
contentType, createdAt/modifiedAt, emailUser/emailDomain
(migrations.py:90-143), a mentionCount backfill over APPEARS_IN
(migrations.py:50-57), and a self-parent HAS_PARENT cleanup
(migrations.py:168-172).

A parquet store has no live constraint engine, so the analog is:

  * ``CONSTRAINTS`` — the per-table uniqueness keys and index-worthy
    columns, written to ``<run_dir>/constraints.json`` (the manifest a
    query layer or future Iceberg catalog would hydrate into real
    sort orders / bloom filters);
  * enforcement at MERGE time — ``assert_unique`` runs inside
    ``merge_table`` so an increment that would corrupt a key (e.g. two
    different docs sharing an id within one batch) raises
    ``ConstraintViolation`` instead of silently landing;
  * ``MIGRATIONS`` — the versioned, idempotent data migrations that
    still mean something over parquet (mentionCount backfill,
    self-parent deletion, dropping the parse carriers from docs,
    bucketing tables an older build wrote plain), recorded in the same
    json so reruns skip (the reference's IF NOT EXISTS semantics).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sinks.tables import TABLE_KEYS


class ConstraintViolation(Exception):
    pass


# reference-named secondary keys of the graph tables
_INDEXES: dict[str, dict] = {
    "docs": {
        "index_document_path": ["path"],
        "index_document_content_type": ["contentType"],
        "index_document_created_at": ["createdAt"],
        "index_document_modified_at": ["modifiedAt"],
    },
    "entities": {
        "index_ne_mention_norm": ["mentionNorm"],
        "index_named_entity_email_user": ["emailUser"],
        "index_named_entity_email_domain": ["emailDomain"],
    },
}

# table → {unique: key columns, indexes: reference-named secondary keys}.
# The graph tables' unique keys are their merge keys (TABLE_KEYS): docs
# carries constraint_document_unique_id, and entities' (mentionNorm,
# category) subsumes constraint_named_entity_unique_id, entityId being
# its sha256.
CONSTRAINTS: dict[str, dict] = {
    **{
        table: {"unique": list(keys), "indexes": _INDEXES.get(table, {})}
        for table, keys in TABLE_KEYS.items()
    },
    "stats": {"unique": ["id"], "indexes": {}},  # constraint_stats_unique_id
}


def assert_unique(df: DataFrame, keys: list[str], table: str) -> None:
    """Raise ConstraintViolation when ``df`` holds duplicate keys.
    One co-partitioned agg over the (small) increment — the same
    shuffle key the merge uses, so no new shuffle profile."""
    dupes = (
        df.groupBy(*keys)
        .count()
        .where(F.col("count") > 1)
        .limit(5)
        .collect()
    )
    if dupes:
        shown = [
            {k: r[k] for k in keys} | {"count": r["count"]} for r in dupes
        ]
        raise ConstraintViolation(
            f"unique constraint on {table}({', '.join(keys)}) violated "
            f"by {len(shown)}+ duplicate keys, e.g. {shown[:3]}"
        )


def migration_mention_count_backfill(spark: SparkSession, run_dir: str) -> None:
    """migration_v_0_6_0: SET rel.mentionCount = size(rel.mentionIds)
    over every APPEARS_IN edge (reference migrations.py:50-57) — a
    single column rewrite instead of 10k-row Cypher transactions.
    Layout-preserving: a bucketed store stays bucketed."""
    from .sinks.tables import rewrite_table

    path = f"{run_dir}/appears_in"
    if not Path(path).exists():
        return
    if "mentionIds" not in spark.read.parquet(path).columns:
        return
    rewrite_table(
        spark,
        path,
        "appears_in",
        lambda df: df.withColumn("mentionCount", F.size("mentionIds")),
    )


def migration_delete_self_parent(spark: SparkSession, run_dir: str) -> None:
    """migration_v_0_9_0: delete (doc)-[:HAS_PARENT]->(doc) self-loops
    (reference migrations.py:168-172). Layout-preserving."""
    from .sinks.tables import rewrite_table

    path = f"{run_dir}/doc_roots"
    if not Path(path).exists():
        return
    rewrite_table(
        spark,
        path,
        "doc_roots",
        lambda df: df.where(F.col("src") != F.col("dst")),
    )


def migration_drop_doc_carriers(spark: SparkSession, run_dir: str) -> None:
    """Drop the parse stage's per-document carrier columns
    (pipeline.CARRIERS) from a docs table written before the docs
    stage stopped storing them; increments left them null on every
    row they merged. Layout-preserving."""
    from .pipeline import CARRIERS
    from .sinks.tables import rewrite_table

    path = f"{run_dir}/docs"
    if not Path(path).exists():
        return
    if not set(CARRIERS) & set(spark.read.parquet(path).columns):
        return
    rewrite_table(spark, path, "docs", lambda df: df.drop(*CARRIERS))


def migration_bucket_plain_tables(spark: SparkSession, run_dir: str) -> None:
    """Hash-bucket every graph table an older build wrote plain (no
    bucket-count sidecar): the store has one layout, and merges refuse
    a plain table until this has run."""
    from .sinks.tables import TABLE_KEYS, is_bucketed, rewrite_table

    for name in TABLE_KEYS:
        path = f"{run_dir}/{name}"
        if Path(path).exists() and not is_bucketed(path):
            rewrite_table(spark, path, name, lambda df: df)


# ordered ladder; names mirror the reference's migration versions
MIGRATIONS: list[tuple[str, Callable | None]] = [
    ("v_0_2_0_constraints_and_indexes", None),  # manifest-only: CONSTRAINTS
    ("v_0_6_0_mention_count_backfill", migration_mention_count_backfill),
    ("v_0_9_0_delete_self_parent", migration_delete_self_parent),
    ("v_1_0_0_drop_doc_carriers", migration_drop_doc_carriers),
    ("v_1_1_0_bucket_plain_tables", migration_bucket_plain_tables),
]


def apply_migrations(spark: SparkSession, run_dir: str) -> list[str]:
    """Idempotently bring a run dir to the current schema version:
    writes ``constraints.json`` (uniqueness keys + index manifest) and
    runs any data migrations not yet recorded. Returns the migrations
    applied this call (the reference's IF NOT EXISTS semantics —
    already-applied versions are skipped). A data migration whose
    table is absent returns without a Spark job, so over a new run dir
    the ladder is recorded for free."""
    state_path = Path(run_dir) / "constraints.json"
    state = (
        json.loads(state_path.read_text())
        if state_path.exists()
        else {"constraints": {}, "applied": []}
    )
    state["constraints"] = CONSTRAINTS
    applied_now = []
    for name, fn in MIGRATIONS:
        if name in state["applied"]:
            continue
        if fn is not None:
            fn(spark, run_dir)
        state["applied"].append(name)
        applied_now.append(name)
    tmp = state_path.with_suffix(".tmp")
    tmp.write_text(json.dumps(state, indent=2, sort_keys=True))
    tmp.replace(state_path)
    return applied_now


def verify_constraints(spark: SparkSession, run_dir: str) -> None:
    """Audit every stored table against its uniqueness key; raises
    ConstraintViolation on the first corrupt table. A stored table
    MISSING one of its key columns is itself a violation (a
    schema-corrupted table must not pass the audit silently), and so
    is a run_dir containing NO constrained tables at all (a typo'd
    path must not read as a clean audit)."""
    audited = 0
    for table, spec in CONSTRAINTS.items():
        path = f"{run_dir}/{table}"
        if not Path(path).exists():
            continue
        audited += 1
        df = spark.read.parquet(path)
        missing = [k for k in spec["unique"] if k not in df.columns]
        if missing:
            raise ConstraintViolation(
                f"table {table} is missing unique-key column(s) "
                f"{missing} (schema corruption)"
            )
        assert_unique(df, spec["unique"], table)
    if audited == 0:
        raise ConstraintViolation(
            f"no constrained tables found under {run_dir} — nothing "
            "was audited (wrong path?)"
        )
