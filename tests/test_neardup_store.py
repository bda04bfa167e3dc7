"""Incremental near-dup dedup against a persisted band-signature
store (sinks/neardup.py): suppression across increments, store growth
by kept docs only, and the O(new-batch) signature-work guarantee.
"""

from __future__ import annotations

import pytest

T1 = "alpha beta gamma delta epsilon zeta eta theta"
T2 = "one two three four five six seven eight nine"
T3 = "iota kappa lambda mu nu xi omicron pi rho"


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_neardup_suppresses_against_store(spark, tmp_path):
    from datashare_extension_neo4j_spark.sinks.neardup import (
        incremental_neardup,
        init_neardup_store,
    )

    store_path = str(tmp_path / "store")
    assert init_neardup_store(spark, _df(spark, [(1, T1), (2, T2)]), store_path) > 0

    # increment: doc 3 duplicates stored doc 1; doc 4 is novel
    res = incremental_neardup(spark, _df(spark, [(3, T1), (4, T3)]), store_path)
    assert res["n_new"] == 2 and res["n_suppressed"] == 1
    assert [(r["doc_id"], r["keeperDocId"]) for r in res["dups"].collect()] == [
        (3, 1)
    ]
    assert [r["doc_id"] for r in res["kept"].collect()] == [4]

    # the store grew by the KEPT doc's bands only — suppressed docs
    # are never stored, so they can't become keepers later
    store = spark.read.parquet(store_path)
    assert set(r["doc_id"] for r in store.collect()) == {1, 2, 4}
    # schema is band keys only: stored docs' signatures CANNOT be
    # recomputed in later increments (no text to recompute from) —
    # signature work per increment is structurally O(new batch)
    assert set(store.columns) == {"doc_id", "band"}

    # next increment: a dup of doc 4 (accepted mid-stream, not in the
    # initial corpus) is suppressed against it
    res2 = incremental_neardup(spark, _df(spark, [(5, T3)]), store_path)
    assert [(r["doc_id"], r["keeperDocId"]) for r in res2["dups"].collect()] == [
        (5, 4)
    ]
    assert res2["kept"].count() == 0
    assert set(
        r["doc_id"] for r in spark.read.parquet(store_path).collect()
    ) == {1, 2, 4}


def test_incremental_neardup_empty_text_never_stored(spark, tmp_path):
    """Docs with no shingles produce no bands: never suppressed (they
    collide with nothing) and never stored (nothing to store)."""
    from datashare_extension_neo4j_spark.sinks.neardup import (
        incremental_neardup,
        init_neardup_store,
    )

    store_path = str(tmp_path / "store")
    init_neardup_store(spark, _df(spark, [(1, T1)]), store_path)
    res = incremental_neardup(
        spark, _df(spark, [(2, ""), (3, None)]), store_path
    )
    assert res["n_suppressed"] == 0
    assert sorted(r["doc_id"] for r in res["kept"].collect()) == [2, 3]
    assert set(
        r["doc_id"] for r in spark.read.parquet(store_path).collect()
    ) == {1}


def test_store_bands_match_batch_path(spark, tmp_path):
    """The store's band values must be bit-identical to the batch
    dedup_minhash_sig bands — otherwise a store decision could never
    be reconciled with a batch dedup decision over the same corpus."""
    import pandas as pd

    from datashare_extension_neo4j_spark.queries import dedup_minhash_sig
    from datashare_extension_neo4j_spark.sinks.neardup import band_signatures

    sf = str(tmp_path)
    pdf = pd.DataFrame({"doc_id": [1, 2], "text": [T1, T2]})
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    batch = {
        r["doc_id"]: {r["band0"], r["band1"]}
        for r in dedup_minhash_sig(spark, sf).collect()
    }
    store: dict = {}
    for r in band_signatures(_df(spark, list(pdf.itertuples(index=False)))).collect():
        store.setdefault(r["doc_id"], set()).add(r["band"])
    assert store == batch


def test_incremental_neardup_rerun_is_idempotent(spark, tmp_path):
    """A re-run of the same increment AFTER its append landed (job
    retry, driver crash between append and output consumption) must
    keep the same docs — attempt 1's bands in the store are the same
    doc ids, and without self-match exclusion they would suppress
    every previously-kept doc against itself."""
    from datashare_extension_neo4j_spark.sinks.neardup import (
        incremental_neardup,
        init_neardup_store,
    )

    store_path = str(tmp_path / "store")
    init_neardup_store(spark, _df(spark, [(1, T1)]), store_path)
    batch = [(3, T2), (4, T3)]
    res1 = incremental_neardup(spark, _df(spark, batch), store_path)
    assert sorted(r["doc_id"] for r in res1["kept"].collect()) == [3, 4]
    # retry the SAME batch: same kept set, no self-suppression
    res2 = incremental_neardup(spark, _df(spark, batch), store_path)
    assert sorted(r["doc_id"] for r in res2["kept"].collect()) == [3, 4]
    assert res2["n_suppressed"] == 0
    # real dups still suppressed afterwards
    res3 = incremental_neardup(spark, _df(spark, [(5, T3)]), store_path)
    assert [(r["doc_id"], r["keeperDocId"]) for r in res3["dups"].collect()] == [
        (5, 4)
    ]


def test_store_row_count_needs_a_local_table(tmp_path):
    """Store row counts are read from local parquet footers: a path that
    is not a local directory (a missing one, or a remote URI) raises
    instead of counting as an empty store."""
    from datashare_extension_neo4j_spark.sinks.tables import stored_rows

    for path in (tmp_path / "missing", "hdfs://namenode/store"):
        with pytest.raises(FileNotFoundError):
            stored_rows(str(path))
