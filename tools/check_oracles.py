"""Driver-simulator: run each queries() entry on Spark AND its oracle
SQL on DuckDB over the same parquet dir; compare row count, column
names, and an order-insensitive value hash (columns sorted by name,
rows sorted, values canonicalized to strings).

Each query's line also carries its physical-plan audit, read from the
executed plan before it runs: ``exchanges=`` non-broadcast (hash or
range) Exchanges, the shuffles that cost at 100 TB; ``broadcast=``
broadcast exchanges; ``python=`` Python operators in the plan.
COVERAGE.md's "Physical-plan audit" table is these three columns.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df_pandas) -> tuple[int, list[str], str]:
    import hashlib

    cols = sorted(df_pandas.columns)
    pdf = df_pandas[cols]

    def cell(v):
        if v is None:
            return "NULL"
        try:
            import math

            if isinstance(v, float):
                if math.isnan(v):
                    return "NULL"
                return repr(round(v, 9))
        except Exception:
            pass
        return str(v)

    rows = sorted(
        ",".join(cell(v) for v in row) for row in pdf.itertuples(index=False)
    )
    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(rows), cols, h


def plan_audit(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # shuffle exchanges = Exchange hashpartitioning / rangepartitioning
    shuffle = len(re.findall(r"Exchange (hash|range)partitioning", plan))
    py = sum(
        plan.count(op)
        for op in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                   "FlatMapGroupsInPandas")
    )
    return (
        f"exchanges={shuffle} broadcast={plan.count('BroadcastExchange')} "
        f"python={py}"
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from datashare_extension_neo4j_spark.queries import QUERIES
    from datashare_extension_neo4j_spark.session import get_spark

    spark = get_spark(app_name="check_oracles", master="local[8]",
                      shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    failures = []
    for name, (fn, oracle) in QUERIES.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = plan_audit(df)
            if oracle is None:
                print(f"OK   {name}: rows-only check, rows={df.count()} {plan}")
                continue
            sdf = df.toPandas()
            n_s, c_s, h_s = canon(sdf)
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            failures.append(name)
            continue
        try:
            ddf = con.execute(oracle).df()
            n_d, c_d, h_d = canon(ddf)
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            failures.append(name)
            continue
        lc_s, lc_d = [c.lower() for c in c_s], [c.lower() for c in c_d]
        if n_s != n_d or lc_s != lc_d or h_s != h_d:
            print(
                f"FAIL {name}: rows {n_s} vs {n_d}; "
                f"cols {'OK' if lc_s == lc_d else (c_s, c_d)}; "
                f"hash {'OK' if h_s == h_d else (h_s[:8], h_d[:8])}"
            )
            if n_s == n_d and lc_s == lc_d:
                # show first differing row for debugging
                s_rows = sorted(
                    ",".join(str(v) for v in r)
                    for r in sdf[sorted(sdf.columns)].itertuples(index=False)
                )
                d_rows = sorted(
                    ",".join(str(v) for v in r)
                    for r in ddf[sorted(ddf.columns)].itertuples(index=False)
                )
                for a, b in zip(s_rows, d_rows):
                    if a != b:
                        print(f"  spark : {a[:220]}")
                        print(f"  duckdb: {b[:220]}")
                        break
            failures.append(name)
        else:
            print(f"OK   {name}: rows={n_s} {plan}")
    spark.stop()
    print(f"\n{len(QUERIES) - len(failures)}/{len(QUERIES)} matched")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
