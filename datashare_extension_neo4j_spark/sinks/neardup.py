"""Incremental near-duplicate detection against a persisted
band-signature store.

The batch MinHash path (``queries.dedup_minhash_pairs``) re-derives
signatures for the whole corpus every run; the production increment
shape dedupes NEW documents against the signatures of everything
already accepted — the batch twin of the streaming band-bucket
operator (``streaming/stateful.py``), whose band keys are
bit-identical to the batch path (guarded by
``test_streaming_bands_match_batch``).

Store layout: a parquet table of ``(doc_id, band)`` rows — band keys
only, no text and no raw signatures. That schema is the structural
proof that an increment can never recompute stored documents'
signatures (there is nothing to recompute them FROM): signature work
per increment is O(new batch), the store contributes a plain columnar
scan + one band-keyed join.

Scale shape: the join key is the md5 band value — uniformly
distributed, so the store join shuffles evenly; a 100-TB corpus's
store is ~n_bands rows per accepted doc (two 32-byte keys per doc at
the defaults), orders of magnitude smaller than the corpus. Appends
are blind (no read-modify-write): duplicate band rows from a retried
append are harmless — suppression takes ``min(keeper)`` over matches
and a doc never matches ITSELF (self-matches are excluded in the
store join, which is what keeps a re-run whose attempt-1 append
already landed from suppressing its own survivors) — so job-level
retry is safe without transactional writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoints import keep
from .tables import stored_rows


def band_signatures(docs: DataFrame) -> DataFrame:
    """``(doc_id, band)`` — one row per distinct LSH band key of each
    document, via the SAME in-row construction the streaming operator
    uses (which is itself parity-locked to the batch
    ``dedup_minhash_sig`` bands). Documents with no shingles (empty /
    null text) produce no rows: they can never collide, and they are
    not stored."""
    from ..streaming.stateful import streaming_band_keys

    return streaming_band_keys(
        docs.withColumn("ts", F.lit(0).cast("long"))
    ).drop("ts")


def init_neardup_store(
    spark: SparkSession, docs: DataFrame, store_path: str
) -> int:
    """Create the signature store from an initial accepted corpus.
    Returns the number of band rows written, read from the parquet
    footers."""
    sigs = band_signatures(docs)
    sigs.write.mode("errorifexists").parquet(store_path)
    return stored_rows(store_path)


def incremental_neardup(
    spark: SparkSession, new_docs: DataFrame, store_path: str
) -> dict:
    """Dedupe ``new_docs`` against the persisted store: a new doc
    sharing ANY band bucket with a stored doc is suppressed (LSH
    candidate semantics, exactly as the streaming twin — a consumer
    wanting exact-Jaccard confirmation joins the suppressed pairs back
    to content, as ``dedup_minhash_pairs`` does in batch). Surviving
    docs' band rows are appended to the store so the NEXT increment
    dedupes against them too.

    Within-batch duplicates are NOT suppressed here — that is the
    batch path's job (`dedup_minhash_pairs` over the increment) or the
    streaming operator's; this operator's contract is new-vs-store.

    Returns ``{"kept": DataFrame, "dups": DataFrame, "n_new",
    "n_suppressed", "n_stored_rows"}`` where ``dups`` is
    ``(doc_id, keeperDocId)`` with the minimum colliding stored doc as
    keeper (deterministic). The returned frames are backed by a
    signature checkpoint registered with the long-lived registry —
    a long-lived driver reclaims the storage with
    ``checkpoints.release_long_lived_checkpoints(spark)`` once they
    are consumed."""
    # materialize the new batch's signatures ONCE: they feed the
    # store join AND the append — O(new batch) rows, and without this
    # the append would re-run the shingle→minhash pass
    sigs = keep(band_signatures(new_docs))
    store = spark.read.parquet(store_path)
    # self-matches excluded: a doc is never a duplicate of itself.
    # This is what makes a RE-RUN (or job retry after the append
    # landed but before the caller consumed the outputs) idempotent —
    # attempt 1's appended bands match attempt 2's same doc ids and
    # would otherwise suppress every previously-kept doc against
    # itself, silently emptying the kept output.
    dups = (
        sigs.join(
            store.withColumnRenamed("doc_id", "keeperDocId"), "band"
        )
        .where(F.col("keeperDocId") != F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("keeperDocId").alias("keeperDocId"))
    )
    kept = new_docs.join(dups.select("doc_id"), "doc_id", "left_anti")
    n_new = new_docs.count()
    n_suppressed = dups.count()
    sigs.join(dups.select("doc_id"), "doc_id", "left_anti").write.mode(
        "append"
    ).parquet(store_path)
    return {
        "kept": kept,
        "dups": dups,
        "n_new": n_new,
        "n_suppressed": n_suppressed,
        "n_stored_rows": stored_rows(store_path),
    }
