"""Bench harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "kg_mentions",
    "kg_appears_in",
    "kg_entities",
    "kg_email_edges",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "ann_cosine_topk",
    "text_stats",
    "tpch_q1",
    "join_topn",
]


def warm_up(spark, cpus: int) -> None:
    """Untimed warm-up on ``cpus`` task slots: a JVM/codegen job, so the
    first timed job isn't paying startup, then a no-op mapInPandas that
    starts the Python workers (long-lived on a real cluster)."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def _noop(it):
        for pdf in it:
            yield pdf

    spark.range(cpus * 8).repartition(cpus * 4).mapInPandas(_noop, "id long").count()


def main() -> None:
    from datashare_extension_neo4j_spark.fixtures import pages_from_documents
    from datashare_extension_neo4j_spark.pipeline import build_graph
    from datashare_extension_neo4j_spark.queries import QUERIES
    from datashare_extension_neo4j_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
    )
    timings: dict[str, float] = {}
    warm_up(spark, CPUS)

    # full KG pipeline (pages → graph), the north-star workload:
    # fused parse+NER, stage checkpoint, graph-table sinks
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="kg_bench_")
    t0 = time.perf_counter()
    g = build_graph(
        pages_from_documents(spark, SF_DIR),
        use_rule_ner=True,
        checkpoint_dir=f"{work}/ck",
    )
    from datashare_extension_neo4j_spark.sinks.tables import materialize_graph

    materialize_graph(g, f"{work}/out")
    t_pipeline = time.perf_counter() - t0
    n_docs = spark.read.parquet(f"{work}/out/docs").count()
    n_edges = sum(
        spark.read.parquet(f"{work}/out/{t}").count()
        for t in ("appears_in", "emails", "doc_roots")
    )
    timings["kg_full_pipeline"] = round(t_pipeline, 3)
    shutil.rmtree(work, ignore_errors=True)

    for name in HEADLINE:
        fn, _oracle = QUERIES[name]
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "kg_construct_bench_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "docs_per_sec": round(n_docs / t_pipeline, 1),
                "n_docs": n_docs,
                "n_edges": n_edges,
                "cpus": CPUS,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
