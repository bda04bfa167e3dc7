"""Constraint manifest + versioned migrations (reference
neo4j-app/neo4j_app/core/neo4j/migrations.py analog) and merge-time
uniqueness enforcement."""

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from datashare_extension_neo4j_spark.fixtures import reference_pages
from datashare_extension_neo4j_spark.manifest import run_pipeline
from datashare_extension_neo4j_spark.migrations import (
    CONSTRAINTS,
    ConstraintViolation,
    apply_migrations,
    verify_constraints,
)
from datashare_extension_neo4j_spark.sinks.tables import rewrite_table


def _fresh_run(spark, tmp_path, n_docs=6):
    pages = reference_pages(spark, n_docs=n_docs)
    pages_path = str(tmp_path / "pages")
    pages.write.parquet(pages_path)
    run_dir = str(tmp_path / "run")
    run_pipeline(spark, pages_path, run_dir)
    return run_dir


def test_pipeline_writes_constraints_manifest(spark, tmp_path):
    run_dir = _fresh_run(spark, tmp_path)
    state = json.loads((Path(run_dir) / "constraints.json").read_text())
    assert state["constraints"]["docs"]["unique"] == ["id"]
    assert state["constraints"]["entities"]["unique"] == [
        "mentionNorm", "category",
    ]
    assert "index_ne_mention_norm" in state["constraints"]["entities"]["indexes"]
    # whole ladder recorded (fresh store is at head); rerun applies none
    assert len(state["applied"]) == 5
    assert apply_migrations(spark, run_dir) == []
    verify_constraints(spark, run_dir)  # fresh tables are all unique


def test_data_migrations_repair_corrupt_store(spark, tmp_path):
    """Self-parent HAS_PARENT rows are deleted and mentionCount is
    re-derived from mentionIds — the v_0_9_0 / v_0_6_0 semantics."""
    run_dir = _fresh_run(spark, tmp_path)
    # corrupt the store the way a pre-migration reference store was:
    roots_path = f"{run_dir}/doc_roots"
    bad_roots = spark.read.parquet(roots_path).drop("_bucket").unionByName(
        spark.createDataFrame([("doc-0", "doc-0")], "src string, dst string")
    )
    bad_roots.write.mode("overwrite").parquet(str(tmp_path / "r2"))
    spark.read.parquet(str(tmp_path / "r2")).write.mode("overwrite").parquet(
        roots_path
    )
    appears_path = f"{run_dir}/appears_in"
    stale = spark.read.parquet(appears_path).withColumn(
        "mentionCount", F.lit(0)
    )
    stale.write.mode("overwrite").parquet(str(tmp_path / "a2"))
    spark.read.parquet(str(tmp_path / "a2")).write.mode("overwrite").parquet(
        appears_path
    )
    # wipe the applied record so the ladder re-runs for real
    state_path = Path(run_dir) / "constraints.json"
    state_path.unlink()

    applied = apply_migrations(spark, run_dir)
    assert "v_0_9_0_delete_self_parent" in applied
    roots = spark.read.parquet(roots_path)
    assert roots.where("src = dst").count() == 0
    a = spark.read.parquet(appears_path)
    assert a.where(F.col("mentionCount") != F.size("mentionIds")).count() == 0


def test_drop_doc_carriers_keeps_bucketing(spark, tmp_path):
    """A docs table from a build that still stored the parse carriers
    loses them, and stays bucketed."""
    pages = reference_pages(spark, n_docs=6)
    pages_path = str(tmp_path / "pages")
    pages.write.parquet(pages_path)
    run_dir = str(tmp_path / "run")
    run_pipeline(spark, pages_path, run_dir, buckets=4)
    docs_path = f"{run_dir}/docs"
    n_docs = spark.read.parquet(docs_path).count()
    # the store an older build wrote: carrier columns on every doc row
    rewrite_table(
        spark,
        docs_path,
        "docs",
        lambda df: df.withColumn(
            "ann_mentions", F.array(F.lit("m"))
        ).withColumn("ann_edges", F.array(F.lit("e"))),
    )
    (Path(run_dir) / "constraints.json").unlink()

    assert "v_1_0_0_drop_doc_carriers" in apply_migrations(spark, run_dir)
    docs = spark.read.parquet(docs_path)
    assert "ann_mentions" not in docs.columns
    assert "ann_edges" not in docs.columns
    assert docs.count() == n_docs
    assert (Path(docs_path) / "_n_buckets").read_text() == "4"
    assert any(p.name.startswith("_bucket=") for p in Path(docs_path).iterdir())


def test_merge_rejects_duplicate_doc_ids(spark, tmp_path):
    """An increment carrying the same document id twice would corrupt
    the unique-id constraint (combine_docs is newest-wins vs OLD rows
    only) — merge_table must raise."""
    from datashare_extension_neo4j_spark.sinks.tables import merge_table

    run_dir = _fresh_run(spark, tmp_path)
    docs = spark.read.parquet(f"{run_dir}/docs")
    dup = docs.limit(1).unionByName(docs.limit(1))
    with pytest.raises(ConstraintViolation, match="docs\\(id\\)"):
        merge_table(spark, f"{run_dir}/docs", dup, "docs")


def test_verify_constraints_catches_corruption(spark, tmp_path):
    run_dir = _fresh_run(spark, tmp_path)
    ents_path = f"{run_dir}/entities"
    ents = spark.read.parquet(ents_path)
    doubled = ents.unionByName(ents)
    doubled.write.mode("overwrite").parquet(str(tmp_path / "e2"))
    spark.read.parquet(str(tmp_path / "e2")).write.mode("overwrite").parquet(
        ents_path
    )
    with pytest.raises(ConstraintViolation, match="entities"):
        verify_constraints(spark, run_dir)


def test_constraints_cover_every_merge_key():
    from datashare_extension_neo4j_spark.sinks.tables import TABLE_KEYS

    for table, keys in TABLE_KEYS.items():
        assert CONSTRAINTS[table]["unique"] == keys


def test_data_migrations_preserve_bucketed_layout(spark, tmp_path):
    """A data migration over a BUCKETED store must keep the bucketed
    layout (sidecar + partition dirs) — flattening it would silently
    lose the O(touched-buckets) incremental-merge property."""
    from datashare_extension_neo4j_spark.migrations import (
        migration_mention_count_backfill,
    )

    pages = reference_pages(spark, n_docs=8)
    pages_path = str(tmp_path / "pages")
    pages.write.parquet(pages_path)
    run_dir = str(tmp_path / "run")
    run_pipeline(spark, pages_path, run_dir, buckets=4)
    appears = Path(run_dir) / "appears_in"
    assert (appears / "_n_buckets").exists()

    migration_mention_count_backfill(spark, run_dir)

    assert (appears / "_n_buckets").read_text() == "4"
    assert any(p.name.startswith("_bucket=") for p in appears.iterdir())
    df = spark.read.parquet(str(appears))
    assert "_bucket" in df.columns  # partition column, not data column
    assert df.where(
        F.col("mentionCount") != F.size("mentionIds")
    ).count() == 0
    # and the bucketed merge path still engages afterwards
    from datashare_extension_neo4j_spark.sinks.tables import merge_table

    upd = df.drop("_bucket").limit(1)
    merge_table(spark, str(appears), upd, "appears_in")
    assert (appears / "_n_buckets").exists()


def test_rerun_on_existing_dir_executes_pending_migrations(spark, tmp_path):
    """A re-run over an EXISTING dir whose ladder record was wiped (as
    an old-code store would be) must execute the data migrations for
    real, not just record them."""
    run_dir = _fresh_run(spark, tmp_path, n_docs=6)
    # corrupt: inject a self-parent edge and wipe the applied record
    roots_path = f"{run_dir}/doc_roots"
    bad = spark.read.parquet(roots_path).drop("_bucket").unionByName(
        spark.createDataFrame([("doc-0", "doc-0")], "src string, dst string")
    )
    bad.write.mode("overwrite").parquet(str(tmp_path / "r2"))
    spark.read.parquet(str(tmp_path / "r2")).write.mode(
        "overwrite"
    ).parquet(roots_path)
    (Path(run_dir) / "constraints.json").unlink()

    # re-run the pipeline over the same (cached) run dir: stages are
    # skipped, but the migration ladder must REPAIR the store
    pages_path = str(tmp_path / "pages")
    run_pipeline(spark, pages_path, run_dir)
    assert spark.read.parquet(roots_path).where("src = dst").count() == 0


def test_failed_fresh_build_resumes_without_migrations(
    spark, tmp_path, monkeypatch
):
    """A fresh build that fails mid-wave has written manifest.json, yet
    its resume executes no data migration: the ladder was recorded
    before the first wave, so the tables this code wrote are left as
    their stages wrote them."""
    from datashare_extension_neo4j_spark import migrations, pipeline

    pages_path = str(tmp_path / "pages")
    reference_pages(spark, n_docs=6).write.parquet(pages_path)
    run_dir = tmp_path / "run"

    def boom(parsed):
        raise RuntimeError("injected stage fault")

    monkeypatch.setattr(pipeline, "email_edges_from_parsed", boom)
    with pytest.raises(RuntimeError, match="injected stage fault"):
        run_pipeline(spark, pages_path, str(run_dir))
    monkeypatch.undo()

    def files(name):
        return {
            str(p.relative_to(run_dir)): p.stat().st_mtime_ns
            for p in (run_dir / name).rglob("*.parquet")
        }

    ran = []

    def spy(name, fn):
        def run(*args):
            ran.append(name)
            return fn(*args)

        return run

    monkeypatch.setattr(migrations, "MIGRATIONS", [
        (name, fn and spy(name, fn)) for name, fn in migrations.MIGRATIONS
    ])
    appears_in = files("appears_in")
    run_pipeline(spark, pages_path, str(run_dir))
    assert ran == []
    assert files("appears_in") == appears_in
    # doc_roots (after the failed wave) holds the files its stage wrote
    stages = json.loads((run_dir / "manifest.json").read_text())["stages"]
    assert sorted(Path(f).name for f in files("doc_roots")) == sorted(
        e["file"] for e in stages["doc_roots"]["partitions"]
    )


def test_verify_constraints_rejects_missing_key_column(spark, tmp_path):
    run_dir = _fresh_run(spark, tmp_path, n_docs=4)
    ents_path = f"{run_dir}/entities"
    broken = spark.read.parquet(ents_path).drop("category")
    broken.write.mode("overwrite").parquet(str(tmp_path / "e2"))
    spark.read.parquet(str(tmp_path / "e2")).write.mode(
        "overwrite"
    ).parquet(ents_path)
    with pytest.raises(ConstraintViolation, match="missing unique-key"):
        verify_constraints(spark, run_dir)


def test_verify_constraints_rejects_empty_run_dir(spark, tmp_path):
    """A typo'd/empty run dir must NOT read as a clean audit."""
    with pytest.raises(ConstraintViolation, match="nothing"):
        verify_constraints(spark, str(tmp_path / "no-such-run"))
