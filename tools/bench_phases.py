"""Phase-level timing of the scaling job at one cluster size — used to
attribute the N→4N efficiency loss to a phase (parse+checkpoint write
vs table materialization) before optimizing it.

Usage: python tools/bench_phases.py <pages_parquet> <n_exec> <cores_per>
           ['{"spark.conf.key": "value", ...}']
Prints one JSON line with per-phase wall times.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

SNIPPET = r"""
import json, sys, time, shutil
sys.path.insert(0, "{repo}")
from datashare_extension_neo4j_spark.session import get_spark
from datashare_extension_neo4j_spark.pipeline import build_graph
from datashare_extension_neo4j_spark.sinks.tables import materialize_graph

n_exec, cores_per = {n_exec}, {cores_per}
total = n_exec * cores_per
conf = {{
    "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": "0",
}}
conf.update({extra!r})
spark = get_spark(
    app_name="phases",
    master=f"local-cluster[{{n_exec}},{{cores_per}},6144]",
    shuffle_partitions=total,
    extra_conf=conf,
)
spark.range(1_000_000).selectExpr("sum(id)").collect()
import pandas as pd
def _noop(it):
    for pdf in it:
        yield pdf
spark.range(total * 16).repartition(total * 8).mapInPandas(_noop, "id long").count()

pages = spark.read.parquet("{pages}")
shutil.rmtree("/tmp/_phases_ck", ignore_errors=True)
shutil.rmtree("/tmp/_phases_out", ignore_errors=True)
t0 = time.perf_counter()
g = build_graph(pages, use_rule_ner=True, include_text=False,
                emit_mentions=False,
                checkpoint_dir="/tmp/_phases_ck")
t_parse = time.perf_counter() - t0
t1 = time.perf_counter()
materialize_graph(g, "/tmp/_phases_out")
t_mat = time.perf_counter() - t1
import subprocess as sp
ck_bytes = int(sp.run(["du", "-sb", "/tmp/_phases_ck"], capture_output=True,
                      text=True).stdout.split()[0])
out_bytes = int(sp.run(["du", "-sb", "/tmp/_phases_out"], capture_output=True,
                       text=True).stdout.split()[0])
print(json.dumps({{"executors": n_exec, "cores": total,
                   "parse_checkpoint_s": round(t_parse, 1),
                   "materialize_s": round(t_mat, 1),
                   "total_s": round(t_parse + t_mat, 1),
                   "checkpoint_mb": ck_bytes // 2**20,
                   "tables_mb": out_bytes // 2**20}}))
spark.stop()
"""


def main() -> None:
    pages = sys.argv[1]
    n_exec = int(sys.argv[2])
    cores_per = int(sys.argv[3])
    extra = json.loads(sys.argv[4]) if len(sys.argv) > 4 else {}
    code = SNIPPET.format(
        repo=REPO, pages=pages, n_exec=n_exec, cores_per=cores_per, extra=extra
    )
    budget = n_exec * cores_per
    cmd = ["taskset", "-c", f"0-{budget - 1}", sys.executable, "-c", code]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=1800)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(out.stderr[-3000:])
    print(lines[-1])


if __name__ == "__main__":
    main()
