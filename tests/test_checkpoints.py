"""Checkpoint blocks: every block a call pins is released when its
scope exits, normally or by an exception, and only the frames a call
keeps outlive it, until ``release_long_lived_checkpoints``."""

import ast
from pathlib import Path

import pytest

import datashare_extension_neo4j_spark as pkg
from datashare_extension_neo4j_spark import checkpoints
from datashare_extension_neo4j_spark.checkpoints import (
    _persistent_rdd_ids,
    release_long_lived_checkpoints,
)
from datashare_extension_neo4j_spark.operators import graph_algos

SF = "/root/testdata/sf0.001"

# algorithm, kwargs, checkpoints taken before the first round
ALGOS = {
    "connected_components": ({}, 2),
    "pagerank": ({"iterations": 12}, 2),
    "pagerank_directed": ({"iterations": 6}, 3),
    "hits": ({"iterations": 6}, 3),
}


def _chain(spark):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(0, 15), (7, 22)],
        "src long, dst long",
    )


@pytest.mark.parametrize("algo", ALGOS)
def test_storage_bounded(spark, algo):
    """Each round releases the previous round's blocks and the setup
    frames are released at exit: only the kept final frame remains
    persisted, and releasing it restores the map."""
    kwargs, _ = ALGOS[algo]
    release_long_lived_checkpoints(spark)
    before = _persistent_rdd_ids(spark)
    out = getattr(graph_algos, algo)(_chain(spark), **kwargs)
    assert out.count() == 31
    assert len(_persistent_rdd_ids(spark) - before) == 1
    assert release_long_lived_checkpoints(spark) == 1
    assert _persistent_rdd_ids(spark) - before == set()


@pytest.mark.parametrize("algo", ALGOS)
def test_failed_round_releases_its_blocks(spark, monkeypatch, algo):
    """The second round's checkpoint raises: the setup frames and the
    first round's state are released on the way out."""
    kwargs, setup = ALGOS[algo]
    real, calls = checkpoints._checkpoint, []

    def failing(df, eager):
        calls.append(df)
        if len(calls) == setup + 2:
            raise RuntimeError("injected checkpoint fault")
        return real(df, eager)

    release_long_lived_checkpoints(spark)
    before = _persistent_rdd_ids(spark)
    monkeypatch.setattr(checkpoints, "_checkpoint", failing)
    with pytest.raises(RuntimeError, match="injected checkpoint fault"):
        getattr(graph_algos, algo)(_chain(spark), **kwargs)
    assert _persistent_rdd_ids(spark) - before == set()
    assert release_long_lived_checkpoints(spark) == 0


def test_unconverged_components_release_their_blocks(spark):
    release_long_lived_checkpoints(spark)
    before = _persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        graph_algos.connected_components(_chain(spark), max_iter=1)
    assert _persistent_rdd_ids(spark) - before == set()


def test_failed_merge_write_releases_its_block(spark, tmp_path, monkeypatch):
    from pyspark.sql.readwriter import DataFrameWriter

    from datashare_extension_neo4j_spark.sinks.tables import (
        create_table,
        merge_table,
    )

    path = str(tmp_path / "doc_roots")
    rows = "src string, dst string"
    create_table(spark.createDataFrame([("a", "b")], rows), path, "doc_roots", 2)
    before = _persistent_rdd_ids(spark)

    def boom(self, *args, **kwargs):
        raise RuntimeError("injected write fault")

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with pytest.raises(RuntimeError, match="injected write fault"):
        merge_table(spark, path, spark.createDataFrame([("c", "d")], rows), "doc_roots")
    assert _persistent_rdd_ids(spark) - before == set()


def test_lazy_checkpoints_are_reclaimable(spark):
    """The lazy per-doc proxy of dedup_minhash_pairs and the entity
    frame of link_mentions are registered: once the results are
    consumed, releasing frees every block the queries left."""
    from datashare_extension_neo4j_spark.queries import (
        dedup_minhash_pairs,
        kg_entity_linking,
    )

    release_long_lived_checkpoints(spark)
    before = _persistent_rdd_ids(spark)
    dedup_minhash_pairs(spark, SF).collect()
    kg_entity_linking(spark, SF).collect()
    assert release_long_lived_checkpoints(spark) == 2
    assert _persistent_rdd_ids(spark) - before == set()


def test_checkpoints_live_in_one_module():
    """Only checkpoints.py calls localCheckpoint or reads the
    persistent-RDD map, and no other module keeps its own RDD-id sets
    or brings back the per-site helpers it replaced."""
    root = Path(pkg.__file__).parent
    gone = {"_eager_checkpoint", "_register_long_lived"}
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "checkpoints.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                if node.func.attr in ("localCheckpoint", "getPersistentRDDs"):
                    offenders.append((path.name, node.lineno, node.func.attr))
            for field in ("id", "name", "arg", "attr", "asname"):
                ident = getattr(node, field, None)
                if isinstance(ident, str) and (
                    ident.endswith("_rdd_ids") or ident in gone
                ):
                    offenders.append((path.name, getattr(node, "lineno", 0), ident))
    assert offenders == []
