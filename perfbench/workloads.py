"""The workloads, the checks on their outputs, and the per-layer
metrics derived from a traced run.

Every operation goes through a public entry point: ``cli.main([...])``
in-process, or a ``queries.QUERIES`` function written to the noop sink.
Each one is checked against the truth planted by ``gen``; an operation
that raises or whose output disagrees counts as failed.
"""

from __future__ import annotations

import contextlib
import csv
import io
import json
import random
import shutil
import statistics
import sys
import time
import traceback
import xml.etree.ElementTree as ET
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import gen
import proc

# ~12 KB of html per page
WORDS = 1200
BUCKETS = 8
PAGES_PER_CORE = 640
INC_PAGES = 100
QUERY_DOCS = 600
WARM_PAGES = 48
WARM_QUERY_DOCS = 100


class Bench:
    """One run: the session, a scratch directory, op counters and
    latencies, and the recorder when tracing."""

    def __init__(self, spark, master: str, work: Path, seed: int, cores: int,
                 jvm: int, recorder=None):
        self.spark = spark
        self.master = master
        self.work = work
        self.seed = seed
        self.cores = cores
        self.jvm = jvm  # driver JVM pid, the root of the CPU accounting
        self.rec = recorder
        self.attempted = 0
        self.failed = 0
        self.lat: dict[str, list[float]] = {}
        self.cycles: list[float] = []  # wall seconds per cycle, checks included
        # per cycle, summed over its operations alone: CPU seconds, and
        # wall seconds less the share of them the hypervisor stole
        self.cycle_cpu: list[float] = []
        self.cycle_wall: list[float] = []
        self._ops_cpu = self._ops_wall = 0.0
        self.cpu: dict[str, list[float]] = {}  # op kind -> CPU seconds
        self.setup_cpu = 0.0
        self.setup_end = 0.0
        self.pages_in = 0  # pages fed to measured increments
        self.elements = 0  # elements written by measured dumps
        self.phases: dict[str, float] = {}  # set-up phase -> seconds

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one untimed set-up phase (reported with the host facts)."""
        t = time.perf_counter()
        yield
        self.phases[name] = time.perf_counter() - t

    # -- operations ----------------------------------------------------
    def _op(self, kind: str, fn, timed: bool = True):
        """Run ``fn`` as one operation; returns (result or None, secs)."""
        if timed:
            self.attempted += 1
            if self.rec is not None:
                self.rec.begin(kind)
            cpu0, steal0 = proc.cpu_s(self.jvm), proc.steal_s()
        t = time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            out = None
        dt = time.perf_counter() - t
        if timed:
            cpu = proc.cpu_s(self.jvm) - cpu0
            self.cpu.setdefault(kind, []).append(cpu)
            self._ops_cpu += cpu
            self._ops_wall += dt - (proc.steal_s() - steal0) / self.cores
            if self.rec is not None:
                self.rec.end()
            self.lat.setdefault(kind, []).append(dt)
            if out is None:
                self.failed += 1
        return out, dt

    def cli(self, *args: str, timed: bool = True):
        """One CLI subcommand in-process; returns its JSON summary."""
        from datashare_extension_neo4j_spark import cli

        def call():
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = cli.main(["--master", self.master, *args])
            if rc != 0:
                raise RuntimeError(f"cli {args[0]} exited {rc}")
            return json.loads(buf.getvalue().strip().splitlines()[-1])

        return self._op(f"cli.{args[0].replace('-', '_')}", call, timed)

    def check(self, ok: bool, what: str) -> None:
        """Count an operation whose output disagrees with the truth."""
        if not ok:
            self.failed += 1
            print(f"verification failed: {what}", file=sys.stderr)

    def measure(self, seconds: float, cycle) -> None:
        """Closed loop: run cycles back to back, and start another only
        while it is expected to end within ``seconds``."""
        t0 = self.setup_end = time.perf_counter()
        self.setup_cpu = proc.cpu_s(self.jvm)
        k = 0
        while True:
            c0 = time.perf_counter()
            self._ops_cpu = self._ops_wall = 0.0
            cycle(k)
            self.cycles.append(time.perf_counter() - c0)
            self.cycle_cpu.append(self._ops_cpu)
            self.cycle_wall.append(self._ops_wall)
            k += 1
            if time.perf_counter() - t0 + statistics.median(self.cycles) > seconds:
                return


# -- checks against planted truth ----------------------------------------

def _csv_rows(export: Path, paths: list[str]) -> list[list[str]]:
    rows = []
    for p in paths:
        with open(export / p, newline="") as f:
            rows.extend(csv.reader(f))
    return rows


def export_triples(export: Path) -> tuple[dict[str, int], set]:
    """Counts and (subject, predicate, object) triples read back from a
    neo4j-admin CSV package."""
    md = json.loads((export / "metadata.json").read_text())
    nodes = {n["headerPath"]: n["nodePaths"] for n in md["nodes"]}
    rels = {r["headerPath"]: r["relationshipPaths"] for r in md["relationships"]}
    docs = _csv_rows(export, nodes["docs-header.csv"])
    ents = {
        r[0]: f"{r[2].split('|')[-1]}:{r[1]}"
        for r in _csv_rows(export, nodes["entities-header.csv"])
    }
    roots = _csv_rows(export, rels["doc-roots-header.csv"])
    appears = _csv_rows(export, rels["entity-docs-header.csv"])
    emails = _csv_rows(export, rels["email-docs-header.csv"])
    triples = {(r[0], "HAS_PARENT", r[1]) for r in roots}
    triples |= {(ents.get(r[4], r[4]), r[6], r[5]) for r in appears}
    triples |= {(ents.get(r[1], r[1]), r[3], r[2]) for r in emails}
    counts = {
        "docs": len(docs), "entities": len(ents), "doc_roots": len(roots),
        "appears_in": len(appears), "emails": len(emails),
    }
    return counts, triples


def graphml_triples(path: Path) -> set:
    """Edge triples of a GraphML dump, entities named CATEGORY:norm."""
    ns = "{http://graphml.graphdrawing.org/xmlns}"
    root = ET.parse(path).getroot()
    names = {}
    for n in root.iter(f"{ns}node"):
        labels = n.get("labels", "").strip(":").split(":")
        norm = next(
            (d.text for d in n.iter(f"{ns}data") if d.get("key") == "mentionNorm"),
            None,
        )
        names[n.get("id")] = f"{labels[-1]}:{norm}" if norm is not None else n.get("id")
    return {
        (names.get(e.get("source")), e.get("label"), names.get(e.get("target")))
        for e in root.iter(f"{ns}edge")
    }


# -- workloads -----------------------------------------------------------

def warm_graph(b: Bench) -> None:
    """Untimed build on a tiny corpus: JIT, codegen cache and Python
    workers are warm before anything is timed. The export, increment and
    dump that follow it reuse most of what the build warmed; warming them
    too would cost more set-up than the benchmark's time budget leaves."""
    warm = gen.corpus(b.seed + 7919, WARM_PAGES, 300, tag="warm")
    gen.write_pages(warm.pages, b.work / "warm_pages", 4)
    b.cli("build", "--pages", str(b.work / "warm_pages"), "--run-dir",
          str(b.work / "warm_run"), "--buckets", str(BUCKETS), timed=False)


def graph_store(b: Bench, seconds: float) -> None:
    """Cycles of the store's life: pages -> bucketed store (``build``) ->
    neo4j-admin package (``export-csv --distributed``) -> one
    ``incremental`` batch -> one DSL ``dump`` of the tables the batch
    just rewrote. Each operation is checked against the planted truth."""
    # ~4.9 MB of parquet per core in 2 x cores files, which the scan
    # packs into about one parse split per core, so the parse kernel runs
    # on every core. (The build does not go through build_graph and its
    # widen probe; the increment does, and its batch is one small file,
    # so it takes the widen branch.)
    n_pages = PAGES_PER_CORE * b.cores
    with b.phase("generate"):
        c = gen.corpus(b.seed, n_pages, WORDS)
        gen.write_pages(c.pages, b.work / "pages", max(b.cores * 2, 8))
        built = gen.Store(c)
        want_counts, want_triples = built.counts(), built.all_triples()
    with b.phase("warm"):
        warm_graph(b)
    rng = random.Random(f"dumps-{b.seed}")

    def cycle(k: int) -> None:
        run, export = b.work / f"run{k}", b.work / f"export{k}"
        b.cli("build", "--pages", str(b.work / "pages"),
              "--run-dir", str(run), "--buckets", str(BUCKETS))
        md, _ = b.cli("export-csv", "--run-dir", str(run),
                      "--export-dir", str(export), "--distributed")
        if md is not None:
            counts, triples = export_triples(export)
            b.check(counts == want_counts and triples == want_triples,
                    f"export counts {counts} (want {want_counts}) or triples "
                    "differ from planted truth")

        store = gen.Store(c)
        inc = gen.increment(b.seed, k, n_pages, INC_PAGES, WORDS)
        pages = b.work / f"inc{k}"
        gen.write_pages(inc.pages, pages, 1)
        want = store.apply(inc)
        got, _ = b.cli("incremental", "--pages", str(pages), "--run-dir", str(run))
        b.pages_in += len(inc.pages)
        if got is not None:
            b.check(got == want, f"increment counters {got} != {want}")

        query, dirname, label = gen.dump_query(rng, store)
        out = b.work / f"dump{k}.graphml"
        got, _ = b.cli("dump", "--run-dir", str(run), "--output", str(out),
                       "--query", json.dumps(query))
        if got is not None:
            n, edges = store.dump_truth(dirname, label)
            b.elements += got["elements"]
            b.check(got["elements"] == n and graphml_triples(out) == edges,
                    f"dump elements {got['elements']} (want {n}) or triples "
                    "differ from planted truth")
        for d in (run, export, pages):
            shutil.rmtree(d, ignore_errors=True)
        out.unlink(missing_ok=True)

    b.measure(seconds, cycle)


def query_mix(b: Bench, seconds: float) -> None:
    """Full passes over the registry queries in seeded order."""
    import duckdb
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from datashare_extension_neo4j_spark.queries import QUERIES

    sf, warm = b.work / "sf", b.work / "sf_warm"
    with b.phase("generate"):
        gen.write_query_tables(b.seed, sf, QUERY_DOCS)
        gen.write_query_tables(b.seed + 7919, warm, WARM_QUERY_DOCS)

    def run(name: str, path: Path) -> int:
        obs = Observation(name)
        fn, _oracle = QUERIES[name]
        fn(b.spark, str(path)).observe(obs, F.count(F.lit(1)).alias("rows")) \
            .write.format("noop").mode("overwrite").save()
        return obs.get["rows"]

    # warm-up on tiny tables fills the codegen cache with the same plans;
    # concurrent jobs keep it short
    with b.phase("warm"), ThreadPoolExecutor(b.cores) as pool:
        list(pool.map(lambda q: b._op(f"queries.{q}", lambda: run(q, warm), timed=False),
                      gen.QUERY_SET))

    got: list[tuple[str, int]] = []

    def cycle(p: int) -> None:
        for q in gen.query_order(b.seed, p):
            rows, _ = b._op(f"queries.{q}", lambda q=q: run(q, sf))
            if rows is not None:
                got.append((q, rows))

    b.measure(seconds, cycle)
    # expected row counts from the registry's oracle SQL on DuckDB, an
    # engine independent of the one under test; after the timed phase,
    # so neither set-up nor the queries pay for it
    con = duckdb.connect()
    for t in ("documents", "embeddings", "customer", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    want = {
        q: con.execute(f"SELECT count(*) FROM ({QUERIES[q][1]})").fetchone()[0]
        for q in gen.QUERY_SET
    }
    con.close()
    for q, rows in got:
        b.check(rows == want[q], f"{q} rows {rows} != {want[q]}")


WORKLOADS = {
    "graph_store": graph_store,
    "query_mix": query_mix,
}


# -- per-layer metrics from a traced run ---------------------------------

def layer_metrics(b: Bench, session_s: float) -> dict[str, tuple[float, str]]:
    """Every per-layer metric as name -> (value, unit). Layers the
    workload does not reach read 0."""
    rec = b.rec
    ops = rec.ops
    n_build = len(b.lat.get("cli.build", [])) or 1
    n_export = len(b.lat.get("cli.export_csv", [])) or 1
    n_inc = len(b.lat.get("cli.incremental", [])) or 1
    n_dump = len(b.lat.get("cli.dump", [])) or 1
    med = lambda k: statistics.median(b.lat[k]) if b.lat.get(k) else 0.0  # noqa: E731
    m: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}
    for k in ("build", "export_csv", "incremental", "dump"):
        m[f"cli.{k}_s"] = (med(f"cli.{k}"), "s")
        cpu = b.cpu.get(f"cli.{k}")
        m[f"cli.{k}_cpu_s"] = (statistics.median(cpu) if cpu else 0.0, "s")
    for st in ("parse", "docs", "doc_roots", "mentions", "entities",
               "appears_in", "emails"):
        m[f"manifest.stage_{st}_s"] = (rec.span_total(f"manifest.stage_{st}") / n_build, "s")
    m["manifest.lineage_s"] = (rec.span_total("manifest.lineage") / n_build, "s")
    m["migrations.apply_s"] = (rec.span_total("migrations.apply") / n_build, "s")

    # the parse kernel's share of a build
    execs = [rec.executions[e] for o in ops if o["kind"] == "cli.build"
             for e in o["execs"] if e in rec.executions]
    for key, name, unit in (
        ("python_run_s", "extract.python_run_s", "s"),
        ("python_sent_mb", "extract.python_sent_mb", "MB"),
        ("python_returned_mb", "extract.python_returned_mb", "MB"),
        ("python_rows_out", "extract.rows_out", "count"),
    ):
        m[name] = (sum(e[key] for e in execs) / n_build, unit)

    bg = rec.spans_named("pipeline.build_graph")
    m["pipeline.build_graph_s"] = (rec.span_total("pipeline.build_graph") / (len(bg) or 1), "s")
    widened = [any(e["round_robin"] for e in rec.span_executions(i)) for i in bg]
    m["pipeline.widened"] = (sum(widened) / (len(widened) or 1), "ratio")

    m["tables.merge_table_s"] = (rec.span_total("tables.merge_table") / n_inc, "s")
    m["tables.increment_self_s"] = (rec.span_total("tables.created_count") / n_inc, "s")
    touched = [
        rec.spans[i]["result"] / rec.spans[i]["int_args"][-1]
        for i in rec.spans_named("tables.merge_bucketed")
        if rec.spans[i].get("result") is not None and rec.spans[i].get("int_args")
    ]
    m["tables.touched_bucket_ratio"] = (statistics.mean(touched) if touched else 0.0, "ratio")
    written = sum(
        e["rows_written"]
        for i in rec.spans_named("tables.merge_table")
        for e in rec.span_executions(i)
    )
    m["tables.rows_written_per_row_in"] = (written / b.pages_in if b.pages_in else 0.0, "ratio")
    m["tables.write_bucketed_s"] = (rec.span_total("tables.write_bucketed") / n_build, "s")

    m["neo4j_csv.write_s"] = (rec.span_total("neo4j_csv.write") / n_export, "s")
    m["neo4j_csv.self_s"] = (
        sum(rec.span_self_s(i) for i in rec.spans_named("neo4j_csv.export")) / n_export, "s"
    )
    m["dsl.compile_s"] = (rec.span_total("dsl.compile") / n_dump, "s")
    graphml = rec.span_total("dump.graphml")
    m["dump.graphml_s"] = (graphml / n_dump, "s")
    m["dump.elements_per_s"] = (b.elements / graphml if graphml else 0.0, "1/s")
    for q in gen.QUERY_SET:
        m[f"queries.{q}_s"] = (med(f"queries.{q}"), "s")

    n_ops = len(ops) or 1
    wall = sum(o["end"] - o["start"] for o in ops)
    for key, unit in (("jobs", "count"), ("exchanges", "count"),
                      ("task_run_s", "s"), ("task_cpu_s", "s"),
                      ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                      ("scan_mb", "MB"), ("files_written", "count")):
        m[f"spark.{key}"] = (sum(o[key] for o in ops) / n_ops, unit)
    m["spark.core_busy_ratio"] = (
        sum(o["task_run_s"] for o in ops) / (wall * b.cores) if wall else 0.0, "ratio"
    )
    m["trace.overhead_ratio"] = (rec.self_s / wall if wall else 0.0, "ratio")
    m["trace.cycle_p50_s"] = (statistics.median(b.cycles) if b.cycles else 0.0, "s")
    return m
