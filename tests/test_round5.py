"""Round-5 regression tests: the three ADVICE findings (cross-chunk
keeper election in the streaming band-bucket op, a release path for
long-lived checkpoint blocks, narrow checkpoint-lock scope) plus the
new round-5 operators' guards.
"""

from __future__ import annotations

import pandas as pd

SF = "/root/testdata/sf0.001"


class _FakeState:
    """Minimal GroupState stand-in for driving stateful fns directly."""

    def __init__(self, value=None):
        self._v = value

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_band_bucket_keeper_resolved_across_chunks():
    """A band group spanning multiple Arrow chunks must elect the
    batch-global (ts, doc_id) min as keeper — a chunk-local election
    would flag the true keeper against a later arrival whenever the
    min lands in a later chunk (or a task retry re-chunks the rows)."""
    from datashare_extension_neo4j_spark.streaming.stateful import (
        _band_bucket_fn,
    )

    chunk1 = pd.DataFrame(
        {"doc_id": ["z"], "text": ["t"], "ts": [5], "band": ["b0"]}
    )
    chunk2 = pd.DataFrame(
        {"doc_id": ["a"], "text": ["t"], "ts": [1], "band": ["b0"]}
    )
    state = _FakeState()
    out = list(_band_bucket_fn(("b0",), iter([chunk1, chunk2]), state))
    assert state.get[0] == "a"  # global min, despite arriving 2nd chunk
    assert len(out) == 1
    row = out[0].iloc[0]
    assert row["doc_id"] == "z" and row["keeperDocId"] == "a"


def test_band_bucket_existing_state_wins_and_empty_batch_noop():
    from datashare_extension_neo4j_spark.streaming.stateful import (
        _band_bucket_fn,
    )

    state = _FakeState(("k", 0))
    chunk = pd.DataFrame(
        {"doc_id": ["a"], "text": ["t"], "ts": [1], "band": ["b0"]}
    )
    out = list(_band_bucket_fn(("b0",), iter([chunk]), state))
    assert state.get == ("k", 0)
    assert out[0].iloc[0]["keeperDocId"] == "k"
    # all-empty chunk iterator: no emission, state untouched
    assert list(_band_bucket_fn(("b0",), iter([chunk.iloc[0:0]]), state)) == []
    assert state.get == ("k", 0)


def test_eager_checkpoint_attributes_exact_rdd_id(spark):
    """A pin reads the persisted id DIRECTLY off the checkpointed
    Dataset's LogicalRDD (no lock, no persistent-map diff) — the id
    must be exactly the id localCheckpoint registered, two
    concurrent-ish checkpoints must attribute DISTINCT ids, and leaving
    the scope must actually evict the blocks."""
    from datashare_extension_neo4j_spark.checkpoints import (
        _block_ids,
        _persistent_rdd_ids,
        checkpoints,
    )

    before = _persistent_rdd_ids(spark)
    # shuffle-bearing plans (the scope's real workload — AQE
    # materializes their stages inside the localCheckpoint call)
    df_a = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    df_b = spark.range(50).selectExpr("id % 3 AS k").groupBy("k").count()
    with checkpoints(spark) as ck:
        out_a, out_b = ck.pin(df_a), ck.pin(df_b)
        ids_a, ids_b = _block_ids(out_a), _block_ids(out_b)
        assert len(ids_a) == 1 and len(ids_b) == 1
        assert ids_a != ids_b
        persisted = _persistent_rdd_ids(spark) - before
        assert ids_a <= persisted and ids_b <= persisted
        assert out_a.count() == 7 and out_b.count() == 3
    assert not ((ids_a | ids_b) & _persistent_rdd_ids(spark))


def test_media_embed_neardup_checkpoints_are_releasable(spark):
    """media_embed_neardup keeps its embedding checkpoint alive to
    back the returned frame, but a long-lived driver must be able to
    reclaim the executor storage once the result is consumed."""
    from datashare_extension_neo4j_spark.checkpoints import (
        _persistent_rdd_ids,
        release_long_lived_checkpoints,
    )
    from datashare_extension_neo4j_spark.queries import media_embed_neardup

    release_long_lived_checkpoints(spark)  # clean slate
    before = _persistent_rdd_ids(spark)
    out = media_embed_neardup(spark, SF)
    out.count()  # consume
    new = _persistent_rdd_ids(spark) - before
    assert new, "the embed kernel checkpoint should be persisted"
    released = release_long_lived_checkpoints(spark)
    assert released >= 1
    # idempotent: nothing left to release
    assert release_long_lived_checkpoints(spark) == 0
    # the released ids are actually gone from the persistent map
    assert not (new & _persistent_rdd_ids(spark))


def test_ivf_kmeans_training_moves_centroids(spark):
    """The trained codebook must be a real Lloyd refinement: every
    vector assigned (n_assigned sums to the corpus), and centroids
    actually move off the sample init (else training is vacuous)."""
    from pyspark.sql import functions as F

    from datashare_extension_neo4j_spark.operators.similarity import (
        kmeans_fixed_point,
        quantize,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    n_vec = e.count()
    cents = kmeans_fixed_point(e, 8, iters=3).collect()
    assert len(cents) == 8
    assert sum(r["n_assigned"] for r in cents) == n_vec
    init = {
        r["vec_id"]: list(r["q"])
        for r in e.where(F.col("vec_id") < 8)
        .select("vec_id", quantize(F.col("embedding"), 1 << 16).alias("q"))
        .collect()
    }
    moved = sum(1 for r in cents if list(r["cq"]) != init[r["list_id"]])
    assert moved == 8, "every centroid should move off the sample init"


def test_bpe_train_merges_overlap_rule_and_empty_tail(spark, tmp_path):
    """Standard BPE semantics on a pathological same-symbol corpus:
    'aaaa' + best pair (a,a) merges at even run offsets only
    ('aa','aa', never 'aa','a','a' or a triple), pair counts include
    every adjacent position weighted by word freq, and rounds with no
    pairs left emit no merge row."""
    from datashare_extension_neo4j_spark.queries import bpe_train_merges

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "aaaa aaaa aa")], "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")
    rows = sorted(
        (
            r["merge_round"],
            r["left_sym"],
            r["right_sym"],
            r["pair_count"],
        )
        for r in bpe_train_merges(spark, sf).collect()
    )
    # round 1: (a,a) appears 3x in 'aaaa' (freq 2) + 1x in 'aa' = 7;
    # merge -> ['aa','aa'] / ['aa'].  round 2: (aa,aa) once in 'aaaa'
    # (freq 2) = 2; merge -> ['aaaa'] / ['aa'].  rounds 3-4: no
    # adjacent pairs anywhere -> no rows.
    assert rows == [(1, "a", "a", 7), (2, "aa", "aa", 2)]


def test_rocksdb_state_store_first_seen_dedup(spark, tmp_path):
    """The production state-store path must actually work: the
    first-seen dedup stream running on the RocksDB provider (bundled
    with Spark), including a checkpointed restart that keeps state."""
    from datashare_extension_neo4j_spark.streaming.stateful import (
        ROCKSDB_PROVIDER,
        start_first_seen_dedup,
        use_rocksdb_state_store,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(key, None)
    use_rocksdb_state_store(spark)
    assert spark.conf.get(key) == ROCKSDB_PROVIDER
    inp, out, ck = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
    )
    try:
        spark.createDataFrame(
            [("k1", "d1", 10), ("k2", "d2", 11)],
            "key string, doc_id string, ts long",
        ).write.mode("append").parquet(inp)
        q = start_first_seen_dedup(spark, inp, out, ck)
        q.awaitTermination(120)
        assert sorted(
            r["doc_id"] for r in spark.read.parquet(out).collect()
        ) == ["d1", "d2"]

        # restart from checkpoint: k1 dup suppressed by RocksDB state
        spark.createDataFrame(
            [("k1", "d3", 20), ("k3", "d4", 21)],
            "key string, doc_id string, ts long",
        ).write.mode("append").parquet(inp)
        q2 = start_first_seen_dedup(spark, inp, out, ck)
        q2.awaitTermination(120)
        assert sorted(
            r["doc_id"] for r in spark.read.parquet(out).collect()
        ) == ["d1", "d2", "d4"]
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_bpe_survives_merge_exhaustion(spark, tmp_path):
    """When every word fully merges before the round budget runs out,
    later rounds must pass the symbol stream through unchanged — a
    cross join against the EMPTY best-pair frame used to wipe it,
    making bpe_vocab empty and every token count 0 (and the oracle
    replicated the same bug, so parity couldn't catch it)."""
    from datashare_extension_neo4j_spark.queries import (
        bpe_tokenize_stats,
        bpe_vocab,
    )

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "aaaa aaaa aa"), (2, "ab ab")], "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")
    vocab = sorted(
        (r["sym"], r["n_occurrences"]) for r in bpe_vocab(spark, sf).collect()
    )
    assert vocab == [("aa", 1), ("aaaa", 2), ("ab", 2)]
    toks = sorted(
        (r["doc_id"], r["n_tokens"])
        for r in bpe_tokenize_stats(spark, sf).collect()
    )
    assert toks == [(1, 3), (2, 2)]
