"""Incremental import semantics — re-import updates, not duplicates
(reference tests/core/neo4j/test_documents.py:56-141) and counters
shaped like ImportSummary (imports.py:130-135)."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from datashare_extension_neo4j_spark.fixtures import reference_pages
from datashare_extension_neo4j_spark.manifest import run_pipeline
from datashare_extension_neo4j_spark.sinks.tables import incremental_import


def test_reimport_updates_not_duplicates(spark, tmp_path):
    pages_all = reference_pages(spark, n_docs=12)
    first = pages_all.where(
        F.regexp_extract("url", r"example-(\d+)", 1).cast("int") < 8
    )
    pages_path = str(tmp_path / "pages1")
    first.write.parquet(pages_path)
    run_dir = str(tmp_path / "run")
    run_pipeline(spark, pages_path, run_dir)
    n_docs_1 = spark.read.parquet(f"{run_dir}/docs").count()
    assert n_docs_1 == 8

    # 1) re-import the SAME pages: counts unchanged, zero created
    c = incremental_import(spark, first, run_dir)
    assert c["imported"] == 8
    assert c["nodes_created"] == 0
    assert c["relationships_created"] == 0
    assert c["entities_created"] == 0
    assert spark.read.parquet(f"{run_dir}/docs").count() == 8
    assert (
        spark.read.parquet(f"{run_dir}/docs").select("id").distinct().count() == 8
    )

    # 2) import the remaining 4 docs: created counts = the delta
    c2 = incremental_import(spark, pages_all, run_dir)
    assert c2["imported"] == 12
    assert c2["nodes_created"] == 4
    assert c2["relationships_created"] > 0
    docs = spark.read.parquet(f"{run_dir}/docs")
    assert docs.count() == 12
    assert docs.select("id").distinct().count() == 12
    # edges merged, no duplicate keys
    a = spark.read.parquet(f"{run_dir}/appears_in")
    assert (
        a.groupBy("startId", "endId").count().where("count > 1").count() == 0
    )
    # emails merged too (fixture attaches SENT/RECEIVED to doc-11,
    # which only arrives in the second batch — a stale emails table
    # would still be empty here)
    emails = spark.read.parquet(f"{run_dir}/emails")
    got = {r["type"]: r["fields"] for r in emails.collect()}
    assert got == {
        "SENT": ["tika_metadata_message_from"],
        "RECEIVED": ["tika_metadata_message_to"],
    }

    # 3) idempotence: repeating the full import changes nothing
    c3 = incremental_import(spark, pages_all, run_dir)
    assert c3["nodes_created"] == 0
    assert c3["relationships_created"] == 0
    assert spark.read.parquet(f"{run_dir}/emails").count() == 2


def test_mentions_for_previously_imported_docs(spark, tmp_path):
    """Reference imports.py:829-871 semantics: an NE-only batch whose
    parent docs were imported by a PRIOR run merges into the existing
    edge/entity tables; mentions for unknown docs are dropped."""
    from datashare_extension_neo4j_spark.functions.hashing import make_entity_id
    from datashare_extension_neo4j_spark.schemas import MENTION_SCHEMA
    from datashare_extension_neo4j_spark.sinks.tables import (
        incremental_import_mentions,
    )

    pages = reference_pages(spark, n_docs=6)
    pages_path = str(tmp_path / "pages")
    pages.write.parquet(pages_path)
    run_dir = str(tmp_path / "run")
    run_pipeline(spark, pages_path, run_dir)
    pre_edges = spark.read.parquet(f"{run_dir}/appears_in").count()

    rows = [
        # new entity in a doc imported last run (twice → one edge)
        ("late-1", "doc-3", "PERSON", "O'Brien", "o'brien", 7, "CORENLP",
         "en", [3], None),
        ("late-2", "doc-3", "PERSON", "O'Brien", "o'brien", 7, "CORENLP",
         "en", [9], None),
        # email mention for an imported doc → SENT edge
        ("late-3", "doc-2", "EMAIL", "x@y.z", "x@y.z", 5, "CORENLP", "en",
         [0], {"emailHeaderField": "tika_metadata_message_from"}),
        # orphan: parent never imported → dropped
        ("late-4", "doc-99", "PERSON", "ghost", "ghost", 5, "CORENLP",
         "en", [1], None),
    ]
    mentions = spark.createDataFrame(rows, MENTION_SCHEMA)
    c = incremental_import_mentions(spark, mentions, run_dir)
    assert c["imported"] == 3
    assert c["skipped_orphans"] == 1
    # email NEs get an APPEARS_IN edge AND the SENT edge (reference:
    # all NEs appear; email-typed also classify) → 2 + 1
    assert c["relationships_created"] == 3
    assert c["entities_created"] == 2  # o'brien + x@y.z

    a = spark.read.parquet(f"{run_dir}/appears_in")
    assert a.count() == pre_edges + 2
    row = a.where("mentionNorm = \"o'brien\"").collect()[0]
    assert row["endId"] == "doc-3"
    assert row["mentionIds"] == ["late-1", "late-2"]
    assert row["mentionCount"] == 2
    assert row["startId"] == make_entity_id("o'brien", "PERSON")
    sent = spark.read.parquet(f"{run_dir}/emails").where("endId = 'doc-2'")
    assert [r["type"] for r in sent.collect()] == ["SENT"]
    # orphan absent everywhere
    assert a.where("mentionNorm = 'ghost'").count() == 0
    ents = spark.read.parquet(f"{run_dir}/entities")
    assert ents.where("mentionNorm = 'ghost'").count() == 0

    # idempotent: replaying the same NE batch creates nothing
    c2 = incremental_import_mentions(spark, mentions, run_dir)
    assert c2["relationships_created"] == 0
    assert c2["entities_created"] == 0
    a2 = spark.read.parquet(f"{run_dir}/appears_in")
    assert (
        a2.where("mentionNorm = \"o'brien\"").collect()[0]["mentionIds"]
        == ["late-1", "late-2"]
    )


def test_bucketed_merge_rewrites_only_touched_partitions(spark, tmp_path):
    """With buckets=N, a merge reads and rewrites ONLY the partitions
    the increment touches (the Iceberg-MERGE cost shape on vanilla
    parquet): untouched bucket files are bit-for-bit untouched on disk,
    and the merged content is the correct ON MATCH update."""
    import os

    from datashare_extension_neo4j_spark.pipeline import build_graph
    from datashare_extension_neo4j_spark.sinks.tables import (
        BUCKET_COL,
        bucketize,
        materialize_graph,
        merge_table,
    )

    pages = reference_pages(spark, n_docs=12)
    g = build_graph(pages, use_rule_ner=True)
    out = str(tmp_path / "bucketed")
    materialize_graph(g, out, buckets=8)
    apath = f"{out}/appears_in"

    def file_states(path):
        states = {}
        for root, _, files in os.walk(path):
            for fn in files:
                p = os.path.join(root, fn)
                states[p] = (os.path.getsize(p), os.path.getmtime(p))
        return states

    before = file_states(apath)
    # an increment touching exactly one edge key → ≤1 bucket
    # (snapshot to the driver first: a lazy frame over the table's own
    # files would break once the merge rewrites them)
    base = spark.read.parquet(apath).drop(BUCKET_COL)
    one = spark.createDataFrame(base.limit(1).collect(), base.schema)
    update = one.withColumn(
        "mentionIds",
        F.array_union(F.col("mentionIds"), F.array(F.lit("late-xyz"))),
    )
    expected_buckets = {
        r[BUCKET_COL]
        for r in bucketize(update, ["startId", "endId", "type"], 8)
        .select(BUCKET_COL)
        .collect()
    }
    merge_table(spark, apath, update, "appears_in")
    after = file_states(apath)

    changed_dirs = set()
    for p in set(before) | set(after):
        if before.get(p) != after.get(p):
            part = [s for s in p.split(os.sep) if s.startswith(f"{BUCKET_COL}=")]
            if part:
                changed_dirs.add(int(part[0].split("=")[1]))
    assert changed_dirs == expected_buckets  # only the touched bucket
    # the bucket-count sidecar must survive dynamic overwrite, or the
    # NEXT merge would refuse the table
    assert (Path(apath) / "_n_buckets").read_text() == "8"
    # and the content is the correct merge
    merged = spark.read.parquet(apath)
    key = one.collect()[0]
    row = merged.where(
        (F.col("startId") == key["startId"]) & (F.col("endId") == key["endId"])
    ).collect()[0]
    assert "late-xyz" in row["mentionIds"]
    # total row count unchanged (pure ON MATCH update)
    assert merged.count() == g.appears_in.count()


def test_bucketed_pipeline_end_to_end(spark, tmp_path):
    """run_pipeline(buckets=N) → incremental_import merges into the
    N-bucket tables and keeps their layout."""
    pages_all = reference_pages(spark, n_docs=10)
    first = pages_all.where(
        F.regexp_extract("url", r"example-(\d+)", 1).cast("int") < 6
    )
    pages_path = str(tmp_path / "pages")
    first.write.parquet(pages_path)
    run_dir = str(tmp_path / "run")
    run_pipeline(spark, pages_path, run_dir, buckets=4)
    assert (Path(run_dir) / "docs" / "_n_buckets").read_text() == "4"
    assert any(
        p.name.startswith("_bucket=")
        for p in (Path(run_dir) / "appears_in").iterdir()
    )

    c = incremental_import(spark, pages_all, run_dir)
    assert c["imported"] == 10
    assert c["nodes_created"] == 4
    docs = spark.read.parquet(f"{run_dir}/docs")
    assert docs.select("id").distinct().count() == 10
    # layout survived the merge (still bucketed, sidecar intact)
    assert (Path(run_dir) / "docs" / "_n_buckets").read_text() == "4"
    a = spark.read.parquet(f"{run_dir}/appears_in")
    assert (
        a.groupBy("startId", "endId").count().where("count > 1").count() == 0
    )


def test_bucketed_merge_empty_increment_is_noop(spark, tmp_path):
    """An increment touching zero rows must not crash (a partitioned
    write of zero rows would produce an unreadable tmp dir) and must
    leave the bucketed table byte-identical."""
    from datashare_extension_neo4j_spark.pipeline import build_graph
    from datashare_extension_neo4j_spark.sinks.tables import (
        BUCKET_COL,
        materialize_graph,
        merge_table,
    )

    pages = reference_pages(spark, n_docs=6)
    g = build_graph(pages, use_rule_ner=True)
    out = str(tmp_path / "b")
    materialize_graph(g, out, buckets=4)
    apath = f"{out}/appears_in"
    before = spark.read.parquet(apath).count()
    empty = spark.read.parquet(apath).drop(BUCKET_COL).limit(0)
    merge_table(spark, apath, empty, "appears_in")
    assert spark.read.parquet(apath).count() == before


def test_rebuild_with_different_buckets_invalidates_stages(spark, tmp_path):
    """Changing --buckets on an existing run-dir must re-run the table
    stages (the write config is part of the stage fingerprint), not
    silently keep the old layout."""
    pages = reference_pages(spark, n_docs=6)
    pages_path = str(tmp_path / "pages")
    pages.write.parquet(pages_path)
    run_dir = str(tmp_path / "run")
    run_pipeline(spark, pages_path, run_dir)  # default bucket count
    default = spark.conf.get("spark.sql.shuffle.partitions")
    assert (Path(run_dir) / "docs" / "_n_buckets").read_text() == default
    run_pipeline(spark, pages_path, run_dir, buckets=4)
    assert (Path(run_dir) / "docs" / "_n_buckets").read_text() == "4"
    assert spark.read.parquet(f"{run_dir}/docs").count() == 6


def test_incremental_import_parses_once(spark, tmp_path):
    """The mapInPandas parse must execute exactly once per increment:
    the parse output is stage-checkpointed to parquet, so the 6-8
    counter/merge actions re-read the checkpoint, never the parse. An
    accumulator tap on the pages input counts how many times each page
    row flows into the parse — without the checkpoint it was ~6-8x."""
    pages = reference_pages(spark, n_docs=10)
    pages_path = str(tmp_path / "pages")
    pages.write.parquet(pages_path)
    run_dir = str(tmp_path / "run")
    run_pipeline(spark, pages_path, run_dir)

    acc = spark.sparkContext.accumulator(0)

    def tap(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    tapped = pages.mapInPandas(tap, pages.schema)
    c = incremental_import(spark, tapped, run_dir)
    assert c["imported"] == 10
    assert acc.value == 10


def _write_plain(spark, df, path, scratch):
    """Store ``df`` at ``path`` the way older builds did: plain parquet,
    no bucket column, no sidecar (staged through ``scratch`` because
    ``df`` may read the files being replaced)."""
    df.write.mode("overwrite").parquet(scratch)
    spark.read.parquet(scratch).write.mode("overwrite").parquet(path)


def test_migrate_buckets_plain_tables(spark, tmp_path, capsys):
    """A store whose tables an older build wrote plain: `migrate`
    buckets every table (sidecar written, same rows), and an increment
    then merges into it."""
    import json

    from datashare_extension_neo4j_spark.cli import main
    from datashare_extension_neo4j_spark.migrations import MIGRATIONS
    from datashare_extension_neo4j_spark.sinks.tables import (
        TABLE_KEYS,
        read_table,
    )

    pages_all = reference_pages(spark, n_docs=10)
    first = pages_all.where(
        F.regexp_extract("url", r"example-(\d+)", 1).cast("int") < 6
    )
    pages_path = str(tmp_path / "pages")
    first.write.parquet(pages_path)
    run_dir = str(tmp_path / "run")
    run_pipeline(spark, pages_path, run_dir)
    rows = {}
    for name in TABLE_KEYS:
        path = f"{run_dir}/{name}"
        rows[name] = sorted(map(str, read_table(spark, path).collect()))
        _write_plain(
            spark, read_table(spark, path), path, str(tmp_path / f"s_{name}")
        )
        assert not (Path(path) / "_n_buckets").exists()
    # the ladder record of a store at the previous head
    state_path = Path(run_dir) / "constraints.json"
    state = json.loads(state_path.read_text())
    state["applied"] = [n for n, _ in MIGRATIONS[:-1]]
    state_path.write_text(json.dumps(state))

    assert main(["migrate", "--run-dir", run_dir]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"applied": ["v_1_1_0_bucket_plain_tables"]}
    default = spark.conf.get("spark.sql.shuffle.partitions")
    for name in TABLE_KEYS:
        path = f"{run_dir}/{name}"
        assert (Path(path) / "_n_buckets").read_text() == default
        assert sorted(map(str, read_table(spark, path).collect())) == rows[name]

    c = incremental_import(spark, pages_all, run_dir)
    assert c["imported"] == 10
    assert c["nodes_created"] == 4
    assert spark.read.parquet(f"{run_dir}/docs").count() == 10


def test_merge_into_plain_table_names_migrate(spark, tmp_path):
    """A merge refuses a table without the bucket-count sidecar and
    points at `migrate`, instead of taking a second merge path."""
    from datashare_extension_neo4j_spark.sinks.tables import (
        merge_table,
        read_table,
    )

    pages = reference_pages(spark, n_docs=4)
    pages_path = str(tmp_path / "pages")
    pages.write.parquet(pages_path)
    run_dir = str(tmp_path / "run")
    run_pipeline(spark, pages_path, run_dir)
    path = f"{run_dir}/docs"
    stored = read_table(spark, path)
    docs = spark.createDataFrame(stored.collect(), stored.schema)
    _write_plain(spark, docs, path, str(tmp_path / "s"))
    with pytest.raises(FileNotFoundError, match="migrate"):
        merge_table(spark, path, docs, "docs")
    assert spark.read.parquet(path).count() == 4  # untouched


def test_empty_table_is_bucketed_and_takes_merges(spark, tmp_path):
    """A build without any email header writes an EMPTY emails table:
    it is still bucketed (sidecar + a readable schema), and a later
    merge lands rows in it."""
    from datashare_extension_neo4j_spark.pipeline import build_graph
    from datashare_extension_neo4j_spark.sinks.tables import (
        materialize_graph,
        merge_table,
        read_table,
    )

    pages = reference_pages(spark, n_docs=12)
    no_email = pages.where(
        F.regexp_extract("url", r"example-(\d+)", 1).cast("int") < 11
    )
    out = str(tmp_path / "store")
    materialize_graph(build_graph(no_email, use_rule_ner=True), out)
    epath = f"{out}/emails"
    default = spark.conf.get("spark.sql.shuffle.partitions")
    assert (Path(epath) / "_n_buckets").read_text() == default
    stored = read_table(spark, epath)
    assert stored.count() == 0
    want = build_graph(pages, use_rule_ner=True).emails
    assert stored.columns == want.columns

    assert merge_table(spark, epath, want, "emails") == 2
    got = {r["type"]: r["fields"] for r in read_table(spark, epath).collect()}
    assert got == {
        "SENT": ["tika_metadata_message_from"],
        "RECEIVED": ["tika_metadata_message_to"],
    }


def _store_of_first_8(spark, tmp_path, name="run"):
    """A 4-bucket store of reference pages 0-7; returns (run_dir, all
    12 pages)."""
    pages_all = reference_pages(spark, n_docs=12)
    pages_path = str(tmp_path / f"pages_{name}")
    pages_all.where(
        F.regexp_extract("url", r"example-(\d+)", 1).cast("int") < 8
    ).write.parquet(pages_path)
    run_dir = str(tmp_path / name)
    run_pipeline(spark, pages_path, run_dir, buckets=4)
    return run_dir, pages_all


def _table_rows(spark, run_dir):
    """Every graph table's rows (bucket column dropped), comparable."""
    from datashare_extension_neo4j_spark.sinks.tables import (
        TABLE_KEYS,
        read_table,
    )

    out = {}
    for name in TABLE_KEYS:
        df = read_table(spark, f"{run_dir}/{name}")
        out[name] = sorted(map(str, df.select(*sorted(df.columns)).collect()))
    return out


def test_merges_release_their_checkpoint_blocks(spark, tmp_path):
    """merge_table and rewrite_table stage through localCheckpoint,
    whose blocks sit below the SQL cache: each must release its own,
    or every merge leaves one persisted RDD behind."""
    from datashare_extension_neo4j_spark.checkpoints import _persistent_rdd_ids
    from datashare_extension_neo4j_spark.pipeline import build_graph
    from datashare_extension_neo4j_spark.sinks.tables import (
        merge_table,
        rewrite_table,
    )

    run_dir, pages_all = _store_of_first_8(spark, tmp_path)
    g = build_graph(pages_all, use_rule_ner=True)
    update = spark.createDataFrame(g.appears_in.collect(), g.appears_in.schema)
    path = f"{run_dir}/appears_in"

    before = _persistent_rdd_ids(spark)
    assert merge_table(spark, path, update, "appears_in") > 0
    assert _persistent_rdd_ids(spark) - before == set()
    rewrite_table(spark, path, "appears_in", lambda df: df)
    assert _persistent_rdd_ids(spark) - before == set()


def test_failed_table_write_records_nothing_and_rerun_converges(
    spark, tmp_path, monkeypatch
):
    """One table's combine raises: the increment raises, the other
    tables' writes still finish, and the manifest records no increment.
    Re-running the same increment then gives the tables of a clean
    one-shot run (the combines are idempotent)."""
    import json

    from datashare_extension_neo4j_spark.sinks import tables

    run_dir, pages_all = _store_of_first_8(spark, tmp_path)
    manifest = Path(run_dir) / "manifest.json"
    increments = json.loads(manifest.read_text()).get("increments", [])

    def boom(old, new):
        raise RuntimeError("injected combine fault")

    monkeypatch.setitem(tables.COMBINE, "entities", boom)
    with pytest.raises(RuntimeError, match="injected combine fault"):
        incremental_import(spark, pages_all, run_dir)
    # the other writes ran to the end, also those of tables after the
    # failing one: the 4 new documents and doc-11's two email edges
    assert spark.read.parquet(f"{run_dir}/docs").count() == 12
    assert spark.read.parquet(f"{run_dir}/emails").count() == 2
    assert json.loads(manifest.read_text()).get("increments", []) == increments
    assert not list(Path(run_dir).glob("_increment_ckpt_*"))

    monkeypatch.undo()
    incremental_import(spark, pages_all, run_dir)
    clean_dir, _ = _store_of_first_8(spark, tmp_path, "clean")
    incremental_import(spark, pages_all, clean_dir)
    assert _table_rows(spark, run_dir) == _table_rows(spark, clean_dir)


def test_incremental_import_execution_count(spark, tmp_path, last_sql_execution):
    """One increment of 12 pages into a 4-bucket store runs 17 SQL
    executions: the parse checkpoint write, the docs uniqueness check,
    and per table the touched-bucket collect, the merge's checkpoint
    and its write. The created and imported counters are read from
    parquet footers; a counting job coming back shows up here."""
    run_dir, pages_all = _store_of_first_8(spark, tmp_path)
    before = last_sql_execution()
    c = incremental_import(spark, pages_all, run_dir)
    assert last_sql_execution() - before == 17
    assert c["imported"] == 12 and c["nodes_created"] == 4


def test_repeated_increment_compiles_nothing(spark, tmp_path):
    """Back-to-back increments into one run dir (a streaming ingest's
    micro-batches) reuse the generated classes of the ones before, as
    the session's codegen cache holds them all. Spark's default cache
    of 100 classes evicts them: about 95 compile again per increment."""
    from datashare_extension_neo4j_spark.observe import observe

    run_dir, pages_all = _store_of_first_8(spark, tmp_path)
    # the second increment still compiles one class: a source the first
    # compiled under one class loader only (the cache key has both)
    incremental_import(spark, pages_all, run_dir)
    incremental_import(spark, pages_all, run_dir)
    with observe() as again:
        c = incremental_import(spark, pages_all, run_dir)
    assert c["imported"] == 12 and c["nodes_created"] == 0
    assert again["codegen_classes"] == 0


def test_merge_keeps_the_stored_column_layout(spark, tmp_path):
    """A merge rewrites its buckets in the table's stored column order:
    every file of a table keeps the build's layout, so a later merge
    reads it with the same plan. (``combine_docs``' using-join and the
    edge combines' groupBy put the keys first.)"""
    import pyarrow.parquet as pq

    from datashare_extension_neo4j_spark.sinks.tables import TABLE_KEYS

    run_dir, pages_all = _store_of_first_8(spark, tmp_path)

    def layouts():
        return {
            name: {
                tuple(pq.read_schema(f).names)
                for f in Path(run_dir, name).rglob("*.parquet")
            }
            for name in TABLE_KEYS
        }

    built = layouts()
    assert all(len(v) == 1 for v in built.values())
    incremental_import(spark, pages_all, run_dir)
    assert layouts() == built


def test_increment_creating_docs_enforces_unique_ids(spark, tmp_path):
    """An increment into a run dir without tables creates them through
    the same uniqueness gate a merge applies: a batch repeating one
    page's doc id raises, no docs table lands, and no increment is
    recorded."""
    import json

    from datashare_extension_neo4j_spark.migrations import ConstraintViolation

    pages = reference_pages(spark, n_docs=4)
    run_dir = tmp_path / "run"
    with pytest.raises(ConstraintViolation, match="docs"):
        incremental_import(spark, pages.unionByName(pages.limit(1)), str(run_dir))
    assert not (run_dir / "docs").exists()
    manifest = run_dir / "manifest.json"
    if manifest.exists():
        assert not json.loads(manifest.read_text()).get("increments")
