"""Scaling-efficiency evidence (BASELINE.json north rule): identical
KG-construction job, identical input, two cluster sizes — N and 4N
executors — simulated with Spark's multi-JVM ``local-cluster[n,cores,
mem]`` master (separate executor JVMs, heaps, GC, and python worker
pools; the faithful sandbox substitute for a real cluster).

Job under test: pages parquet scan → fused parse+NER (mapInPandas) →
doc/entity/edge derivation → stage checkpoint → 5 graph-table parquet
sinks. Input pages are realistic Common-Crawl-ish sizes (~12 KB html)
so the python extraction work dominates fixed per-task costs, as it
does at production scale.

Usage: python tools/bench_scaling.py [pages_parquet] [n_execs] [cores_per_exec]
Writes BENCH/BASELINE.md. Each measurement runs in a fresh subprocess.
"""

from __future__ import annotations

import json
import subprocess
import sys
from datetime import datetime, timezone
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

RUN_SNIPPET = r"""
import json, sys, shutil
sys.path.insert(0, "{repo}")
from bench import warm_up
from datashare_extension_neo4j_spark.observe import observe
from datashare_extension_neo4j_spark.session import get_spark
from datashare_extension_neo4j_spark.pipeline import build_graph
from datashare_extension_neo4j_spark.sinks.tables import materialize_graph

n_exec, cores_per = {n_exec}, {cores_per}
total = n_exec * cores_per
spark = get_spark(
    app_name="scaling",
    master=f"local-cluster[{{n_exec}},{{cores_per}},6144]",
    shuffle_partitions=total,
    extra_conf={{
        # 2 MB splits: ~160 tasks for this corpus — enough waves to
        # balance the 32-slot run (4 MB gave 80 tasks = 2.5 ragged waves)
        "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": "0",
    }},
)
warm_up(spark, total)

pages = spark.read.parquet("{pages}")
shutil.rmtree("/tmp/_scaling_ck", ignore_errors=True)
shutil.rmtree("/tmp/_scaling_out", ignore_errors=True)
# two phases, each one observe record: parse + checkpoint write, then
# the five table writes
with observe() as parse:
    g = build_graph(pages, use_rule_ner=True, checkpoint_dir="/tmp/_scaling_ck")
with observe() as materialize:
    materialize_graph(g, "/tmp/_scaling_out")
elapsed = parse["wall_s"] + materialize["wall_s"]
n_docs = spark.read.parquet("/tmp/_scaling_out/docs").count()
n_edges = sum(
    spark.read.parquet(f"/tmp/_scaling_out/{{t}}").count()
    for t in ("appears_in", "emails", "doc_roots")
)
print(json.dumps({{"executors": n_exec, "cores": total, "elapsed": elapsed,
                   "n_docs": n_docs, "docs_per_sec": n_docs / elapsed,
                   "n_edges": n_edges, "parse": parse,
                   "materialize": materialize}}))
spark.stop()
"""


def run(pages: str, n_exec: int, cores_per: int) -> dict:
    code = RUN_SNIPPET.format(
        repo=REPO, pages=pages, n_exec=n_exec, cores_per=cores_per
    )
    # pin the whole run to exactly its core budget: on a shared box the
    # small-cluster run would otherwise borrow the idle cores (its JVM
    # threads + python workers spill over), inflating N's throughput —
    # a real N-executor cluster has no spare machine to borrow.
    budget = n_exec * cores_per
    cmd = [sys.executable, "-c", code]
    import shutil as _sh

    if _sh.which("taskset"):
        cmd = ["taskset", "-c", f"0-{budget - 1}"] + cmd
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=1800
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(out.stderr[-2000:])
    return json.loads(lines[-1])


def best_of(trials: int, pages: str, n_exec: int, cores_per: int) -> dict:
    """Min-elapsed over trials — sandbox noise only ever slows a run."""
    results = [run(pages, n_exec, cores_per) for _ in range(trials)]
    return min(results, key=lambda r: r["elapsed"])


def main() -> None:
    pages = sys.argv[1] if len(sys.argv) > 1 else "/tmp/pages_bench3"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    cores_per = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    trials = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    r_n = best_of(trials, pages, n, cores_per)
    r_4n = best_of(trials, pages, n * 4, cores_per)
    eff = (r_4n["docs_per_sec"] / r_n["docs_per_sec"]) / 4
    stamp = datetime.now(timezone.utc).isoformat(timespec="seconds")
    md = f"""# BENCH/BASELINE — measured numbers ({stamp})

Identical KG-construction job (pages parquet scan → fused
parse/extract+NER in one Arrow-batched pass → doc/entity/edge
derivation → stage checkpoint → 5 graph-table parquet sinks) on the
identical input, at two cluster sizes. Cluster-size substitute per the
driver instruction: Spark ``local-cluster`` — real multi-JVM executors
(isolated heaps/GC/python worker pools), N={n} vs 4N={n * 4} executors
× {cores_per} cores.

Input: {r_n["n_docs"]:,} pages (~12 KB html each — Common-Crawl-ish),
{r_n["n_edges"]:,} edges emitted.

| run | executors | total cores | wall time (s) | docs/sec |
|---|---|---|---|---|
| N  | {n} | {n * cores_per} | {r_n["elapsed"]:.1f} | {r_n["docs_per_sec"]:,.0f} |
| 4N | {n * 4} | {n * 4 * cores_per} | {r_4n["elapsed"]:.1f} | {r_4n["docs_per_sec"]:,.0f} |

**Scaling efficiency (N→4N) = {eff:.3f}** (target ≥ 0.8, BASELINE.json).

Measurement notes:
- JVM and python worker pools warmed untimed (`bench.warm_up`; the
  workers are long-lived on a real cluster)
- per-phase `observe` records (parse + checkpoint write, then the five
  table writes) are in the JSON line this script prints
- conf: AQE on, skew-join on, sort-based collect aggs
  (2.5× over object-hash at high group cardinality), 2 MB input splits
- single-JVM ``local[N]`` was rejected as the substitute: task slots,
  python workers, and GC threads co-locate in one heap, so "4N" runs
  ~2.5× more hot threads than cores and GC dominates (measured 99 s GC
  in a 21 s stage) — an artifact a real 4N-executor cluster does not have.
"""
    # latest raw run report; BENCH/BASELINE.md is curated by hand from
    # these (it carries the ceiling analysis that this template lacks)
    out_path = REPO / "BENCH" / "scaling_latest.md"
    out_path.parent.mkdir(exist_ok=True)
    out_path.write_text(md)
    print(json.dumps({"efficiency": round(eff, 3), "n": r_n, "four_n": r_4n}))


if __name__ == "__main__":
    main()
