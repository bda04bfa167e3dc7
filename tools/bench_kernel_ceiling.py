"""Hardware-ceiling probe for the scaling protocol: the bare
extraction kernel (HTML parse + rule NER + per-doc edge aggregation —
the exact per-page work the Spark job does) under plain
``multiprocessing``, NO Spark, at two pinned core budgets.

The single-box N→4N efficiency of THIS number is the physical ceiling
any engine can reach on this machine (string/DOM churn is
memory-bandwidth-bound; active heavy cores degrade each other);
engine efficiency / kernel efficiency is the transferable
per-executor-node figure for a real cluster.

Usage: python tools/bench_kernel_ceiling.py [pages_parquet] [n_small]
         [n_big] [sample_rows] [trials]
Prints one JSON line.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _work(htmls: list[bytes]) -> int:
    """What ``parse_pages`` runs per page with rule NER on: parse,
    append the rule mentions, aggregate the page's edges once."""
    from datashare_extension_neo4j_spark.operators.extract import (
        _parse_one,
        aggregate_doc_edges,
    )
    from datashare_extension_neo4j_spark.operators.ner import (
        DEFAULT_GAZETTEER,
        _extract_doc,
        gazetteer_re,
    )

    terms = gazetteer_re(DEFAULT_GAZETTEER)
    n = 0
    for h in htmls:
        row = _parse_one("u", None, h, None, "en")
        row["ann_mentions"] += _extract_doc(
            row["id"], row["text"], "en", DEFAULT_GAZETTEER, terms
        )
        aggregate_doc_edges(row["ann_mentions"])
        n += 1
    return n


def measure(htmls: list[bytes], procs: int, trials: int) -> float:
    os.sched_setaffinity(0, set(range(procs)))  # children inherit
    chunks = [htmls[i::procs] for i in range(procs)]
    best = float("inf")
    for _ in range(trials):
        with mp.Pool(procs) as pool:
            pool.map(_work, [c[:50] for c in chunks])  # warm imports
            t0 = time.perf_counter()
            done = sum(pool.map(_work, chunks))
            dt = time.perf_counter() - t0
        assert done == len(htmls)
        best = min(best, dt)
    return len(htmls) / best


def main() -> None:
    pages = sys.argv[1] if len(sys.argv) > 1 else "/tmp/pages_bench4"
    n_small = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_big = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    sample = int(sys.argv[4]) if len(sys.argv) > 4 else 100_000
    trials = int(sys.argv[5]) if len(sys.argv) > 5 else 3

    import pyarrow.dataset as ds

    tbl = ds.dataset(pages).head(sample, columns=["html"])
    htmls = tbl.column("html").to_pylist()

    small = measure(htmls, n_small, trials)
    big = measure(htmls, n_big, trials)
    eff = (big / small) / (n_big / n_small)
    print(
        json.dumps(
            {
                "kernel": "parse+ner",
                "n_pages": len(htmls),
                f"pages_per_s_{n_small}p": round(small, 1),
                f"pages_per_s_{n_big}p": round(big, 1),
                "ceiling_efficiency": round(eff, 3),
                "trials": trials,
            }
        )
    )


if __name__ == "__main__":
    main()
