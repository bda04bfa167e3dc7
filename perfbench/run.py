"""Benchmark launcher: one workload, one seed, one fresh driver process.

    python3 perfbench/run.py --workload graph_store --seed 1 --seconds 10 --trace 0

Run from the repository root. The program is driven in-process through
its public entry points (``cli.main`` and ``queries.QUERIES``) on
``local[<cores>]``. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics: set-up and the operations
in CPU seconds of the process tree, and the operations' wall time less
the hypervisor's steal (on a shared virtual machine the time it gives to
other guests swamps raw wall times). ``--trace 1`` installs the layer
recorder and reports the per-layer metrics instead, and writes the spans
to ``.perfbench/trace-<workload>-<seed>.json``. Host facts (cores, RAM,
pyspark version, commit) go to standard error and, with the run's steal
time and the wall times of set-up, cycles and operations, to
``.perfbench/host-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = ROOT / "datashare_extension_neo4j_spark"


def host_facts(cores: int) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pyspark

    digest = hashlib.sha256()
    for p in sorted(PKG.rglob("*.py")):
        digest.update(p.read_bytes())
    return {
        "cores": cores,
        "ram_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "commit": _commit(),
        "package_sha256": digest.hexdigest()[:16],
    }


def _commit() -> str:
    """HEAD of the checkout's git metadata, if it has any."""
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if not ref.startswith("ref: "):
            return ref
        path = ROOT / ".git" / ref[5:]
        if path.exists():
            return path.read_text().strip()
        for line in (ROOT / ".git" / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref[5:]):
                return line.split()[0]
    except OSError:
        pass
    return "unknown"


def _wait_gone(pids: set[int], timeout: float = 60.0) -> None:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (PKG / "cli.py").is_file():
        print(f"no program to measure: {PKG} is missing", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    import workloads
    import proc

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    steal0 = proc.steal_s()
    cores = len(os.sched_getaffinity(0))
    facts = host_facts(cores)
    print(json.dumps(facts), file=sys.stderr)
    out_dir = ROOT / ".perfbench"
    scratch = out_dir / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("local", "work", "tmp"):
        (scratch / d).mkdir(parents=True)
    # the session default (48g) exceeds small hosts: a quarter of RAM,
    # at most 4g
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, int(facts['ram_gb'] // 4)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # temporary files of the JVM and the Python workers stay in the run's
    # scratch directory too (and the JVM keeps no /tmp/hsperfdata file)
    os.environ["TMPDIR"] = str(scratch / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={scratch / 'tmp'} -XX:-UsePerfData"
    )

    spark = gateway = None
    tree: set[int] = set()
    try:
        from datashare_extension_neo4j_spark import session
        from pyspark import SparkContext

        master = f"local[{cores}]"
        t = time.perf_counter()
        spark = session.get_spark(app_name="datashare_extension_neo4j_spark",
                                  master=master)
        session_s = time.perf_counter() - t
        gateway = SparkContext._gateway
        rec = None
        if args.trace:
            from recorder import Recorder

            # memory is a per-layer metric: untraced runs leave /proc alone
            rss = proc.RssSampler(gateway.proc.pid)
            rss.start()
            rec = Recorder(spark, cores)
            rec.install()
            if rec.missing:
                print(f"trace: layers missing: {rec.missing}", file=sys.stderr)
        b = workloads.Bench(spark, master, scratch / "work", args.seed, cores,
                            gateway.proc.pid, rec)
        b.phases["session"] = session_s
        workloads.WORKLOADS[args.workload](b, args.seconds)
        tree = proc.tree(gateway.proc.pid)
        if args.trace:
            peak_mb = rss.stop()
            metrics = workloads.layer_metrics(b, session_s)
            for k, name in (("total", "peak_rss_mb"), ("jvm", "jvm_peak_rss_mb"),
                            ("workers", "workers_peak_rss_mb")):
                metrics[f"process.{name}"] = (peak_mb[k], "MB")
            (out_dir / f"trace-{args.workload}-{args.seed}.json").write_text(
                json.dumps({**rec.dump(), "host": facts}, indent=1)
            )
        else:
            metrics = {
                "setup_s": (b.setup_cpu, "s"),
                "cycle_cpu_s": (statistics.median(b.cycle_cpu), "s"),
                "cycle_wall_s": (statistics.median(b.cycle_wall), "s"),
                "op_cpu_gmean_s": (statistics.geometric_mean(
                    x for v in b.cpu.values() for x in v
                ), "s"),
            }
        (out_dir / f"host-{args.workload}-{args.seed}.json").write_text(json.dumps({
            **facts, "trace": args.trace, "setup_phases": b.phases,
            "steal_s": proc.steal_s() - steal0,
            "setup_wall_s": b.setup_end - T_START, "cycles": b.cycles,
            "cycle_cpu_s": b.cycle_cpu, "cycle_wall_s": b.cycle_wall,
            "latencies": b.lat, "op_cpu_s": b.cpu,
        }))
    finally:
        if spark is not None:
            spark.stop()
        if gateway is not None:
            # the JVM exits when its stdin closes; wait for it (and the
            # Python workers it owns) before removing the scratch dirs
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            _wait_gone(tree)
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
