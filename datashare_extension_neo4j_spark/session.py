"""SparkSession factory tuned for the KG-construction workload.

Local-mode defaults sized for the sandbox (local[32], single JVM); the
same conf block is what we'd pass to spark-submit on a real cluster —
AQE + skew-join on, Arrow on, shuffle partitions ~= 2-3x cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """SPARK_DRIVER_MEMORY, else half of physical RAM within [1g, 48g]
    (48g where it is unknown). In local mode the driver heap is also
    every executor's heap."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    try:
        with open(meminfo) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "48g"
    return f"{min(48 << 10, max(1 << 10, kb >> 11))}m"


def get_spark(
    app_name: str = "datashare_extension_neo4j_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # make the package importable on executor python workers regardless
    # of driver cwd (cluster equivalent: spark-submit --py-files)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
        )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: match cores (not the 200 default) to avoid tiny tasks
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else max(int(n), 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # collect_set/collect_list aggs: sort-based beats object-hash at
        # high group cardinality (measured 2.5x on APPEARS_IN) and
        # avoids the GC churn of per-group array buffers
        .config("spark.sql.execution.useObjectHashAggregateExec", "false")
        # wide-text mapInPandas: 10k-row default batches are ~120 MB of
        # html per batch — small batches cut peak memory + GC and
        # pipeline better against the python workers
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # throughput GC for executors (ignored in local mode, applies
        # under local-cluster/real clusters); G1 pause targets buy
        # nothing in a batch pipeline
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        # single-box file:// splits carry no locality — never wait
        .config("spark.locality.wait", "0s")
        # skip per-API-call Python stack inspection (call-site capture
        # for error messages): pyspark documents it as a performance
        # option, and it costs ~0.5 s of importlib on first use plus a
        # stack walk on EVERY DataFrame method — pure driver overhead
        # for a non-interactive engine (errors still carry the full
        # traceback, just not the user-code fragment annotation)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
