"""SparkSession factory tuned for the KG-construction workload.

``get_spark`` runs ``local[n]`` with n = ``SPARK_GRAFT_CPUS`` (32 when
unset) unless a master is given, and sizes the shuffle to max(n, 8)
partitions for ``local[n]`` (n itself for ``local[*]``), not Spark's
200: one task per core, no tiny tasks. AQE with partition coalescing
and skew joins is on, and Arrow carries the Python operators' batches.
The driver heap is half of physical RAM (``driver_memory``); in local
mode that heap is also every executor's, and
``spark.executor.extraJavaOptions`` is ignored. The same conf block is
what a spark-submit on a cluster would pass.

Spark caches the classes whole-stage codegen compiles, keyed by the
generated source and the class loader, in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries (100 by default). The
package's plan set is larger (see ``CODEGEN_CACHE_ENTRIES``), so at the
default every repeated plan (a streaming micro-batch's
``incremental_import``, a second registry pass) found its classes
evicted and compiled them again. The cache is sized to the plan set
instead. The number of distinct plan shapes does not grow with the
data, so at scale the saving is a constant per plan. So is the price,
driver heap: each entry keeps its class and its generated source.
After two registry passes (sf0.001, ``local[4]``) a full GC left 1,211
MB of heap in use against 849 MB at the default; Metaspace read
about 190 MB against 178-210 MB over three runs. The entry is a static
conf, read once per JVM when the code generator is first used: a
session that started without it keeps the default.

Two residues stay. Each ``LIMIT`` operator names its generated counter
``_limit_counter_<n>`` from a process-wide id, so a plan with a limit
yields new source, and compiles again, on every call (``cli dump``
compiles 2 classes per call this way). And a few queries generate
other source on a second call of the same plan: a stage gets another
``codegenStageId``, or its join keys, grouping keys or ``Expand``
columns come in another order, so it compiles again (66-74 classes on
a second registry pass, against about 1,725 on the first).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# generated classes Spark keeps compiled (spark.sql.codegen.cache.maxEntries).
# The working set, counted as CodegenMetrics.METRIC_COMPILATION_TIME()
# .getCount() over one pass on local[4]: the 86 registry queries compile
# 1,721 classes (sf0.001), the 13 perfbench query_mix queries about 200,
# and one `cli incremental` about 100. A class compiles once per class
# loader, so in local mode one the driver compiles and an executor task
# runs counts twice. 4096 holds all of them with headroom.
CODEGEN_CACHE_ENTRIES = 4096


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
        # the plan set's compiled classes stay cached (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
