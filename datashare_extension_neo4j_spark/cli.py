"""spark-submit entry point.

    spark-submit --py-files dist/datashare_extension_neo4j_spark.zip \
        tools/submit_cli.py build --pages /data/pages --run-dir /data/run

or equivalently ``python -m datashare_extension_neo4j_spark.cli …``
locally. Subcommands:

  build           resumable pipeline: pages parquet → graph tables
                  (manifest-guarded stages, per-partition lineage)
  incremental     MERGE a new pages batch into an existing run-dir
  import-mentions MERGE an NE-only mention batch (parents must already
                  be imported; orphans dropped — reference semantics)
  export-csv      graph tables → neo4j-admin bulk CSV package, each
                  body written once by the executors (default: one
                  file per body; --tar: one archive; --distributed:
                  the part files listed as they are; the two exclude
                  each other)
  dump            DSL JSON (or default query) → graphml/cypher dump
  migrate         bring a run-dir to the current schema version
  verify-constraints  audit the stored tables against their unique keys
  stats           recompute the project-statistics singleton
  dedup-assign    documents → near-dup keeper map parquet (the
                  corpus-filter consumable)
  decontaminate   documents → benchmark-contamination flags parquet
                  (--n 13 = the standard check)
  link            store mentions → scored entity-link parquet
                  (bigram-blocked candidates, jaccard × popularity
                  prior; --kb links against an external entity KB)
  cut-substrings  documents → substring-deduped corpus parquet
                  (Lee-et-al. repeated k-token spans cut from text)
  neardup-init    documents → persisted band-signature store (the
                  incremental near-dup baseline)
  neardup-increment  dedupe a NEW documents batch against the store
                  (suppressed docs reported, survivors' bands appended)
  curate          documents → curation provenance parquet + drop funnel
  scrub           documents → PII-redacted parquet + per-rule counts
  relations       documents → the four typed-relation tables (resumable)
  weblinks        documents → the five webgraph tables (resumable)
  weblinks-init   create the incremental host-graph ledger
  weblinks-increment  MERGE one crawl batch into the ledger
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(master: str | None):
    from .session import get_spark

    return get_spark(app_name="datashare_extension_neo4j_spark", master=master)


def cmd_build(args) -> int:
    from .manifest import run_pipeline

    spark = _spark(args.master)
    out = run_pipeline(
        spark,
        args.pages,
        args.run_dir,
        use_rule_ner=not args.no_ner,
        project=args.project,
        force=args.force,
        buckets=args.buckets,
    )
    print(json.dumps(out))
    return 0


def cmd_incremental(args) -> int:
    from .sinks.tables import incremental_import

    spark = _spark(args.master)
    pages = spark.read.parquet(args.pages)
    counters = incremental_import(
        spark, pages, args.run_dir, project=args.project
    )
    print(json.dumps(counters))
    return 0


def cmd_import_mentions(args) -> int:
    from .sinks.tables import incremental_import_mentions

    spark = _spark(args.master)
    mentions = spark.read.parquet(args.mentions)
    counters = incremental_import_mentions(spark, mentions, args.run_dir)
    print(json.dumps(counters))
    return 0


def cmd_export_csv(args) -> int:
    from .sinks.neo4j_csv import (
        export_graph_csvs,
        export_graph_csvs_distributed,
    )
    from .sinks.tables import TABLE_KEYS, load_store

    spark = _spark(args.master)
    g = load_store(spark, args.run_dir)
    kw = {name: getattr(g, name) for name in TABLE_KEYS}
    kw.update(export_dir=args.export_dir, db=args.db)
    if args.distributed:
        md = export_graph_csvs_distributed(**kw)
    else:
        md = export_graph_csvs(as_tar=args.tar, **kw)
    print(json.dumps(md))
    return 0


def cmd_dump(args) -> int:
    from .graph import to_property_graph
    from .plans.dsl import compile_dump_query, GraphTables
    from .plans.dump import dump_cypher, dump_graphml
    from .sinks.tables import load_store

    spark = _spark(args.master)
    tables: GraphTables = to_property_graph(load_store(spark, args.run_dir))
    query = json.loads(args.query) if args.query else None
    nodes, edges = compile_dump_query(tables, query, default_limit=args.limit)
    write = dump_graphml if args.format == "graphml" else dump_cypher
    # each side is bounded by --limit: read it whole, in one job, before
    # opening the output, so a failed read leaves the old file intact
    rows = nodes.collect(), edges.collect()
    with open(args.output, "w", encoding="utf-8") as f:
        n = write(*rows, f)
    print(json.dumps({"elements": n, "path": args.output}))
    return 0


def cmd_stats(args) -> int:
    from .sinks.tables import load_store
    from .stats import write_statistics

    spark = _spark(args.master)
    g = load_store(spark, args.run_dir)
    stats = write_statistics(spark, g, f"{args.run_dir}/stats")
    print(json.dumps(stats))
    return 0


def cmd_migrate(args) -> int:
    """Bring a run dir to the current schema version (the reference
    runs its migration ladder at app startup; this is the drivable
    equivalent)."""
    from .migrations import apply_migrations

    spark = _spark(args.master)
    applied = apply_migrations(spark, args.run_dir)
    print(json.dumps({"applied": applied}))
    return 0


def cmd_verify_constraints(args) -> int:
    """Audit every stored table against its uniqueness key; exit 1
    with the violation message on corruption."""
    from .migrations import ConstraintViolation, verify_constraints

    spark = _spark(args.master)
    try:
        verify_constraints(spark, args.run_dir)
    except ConstraintViolation as e:
        print(json.dumps({"ok": False, "violation": str(e)}))
        return 1
    print(json.dumps({"ok": True}))
    return 0


def _write_parquet(df, out: str, **aggregates) -> dict:
    """Overwrite ``out`` with ``df`` and return the ``rows`` written
    plus the named ``aggregates`` of ``df``, all observed on that one
    write."""
    from pyspark.sql import functions as F

    from .observe import observed_write

    return observed_write(
        df,
        lambda o: o.write.mode("overwrite").parquet(out),
        rows=F.count(F.lit(1)),
        **aggregates,
    )


def cmd_dedup_assign(args) -> int:
    """Batch corpus-filter consumable: every doc_id mapped to its
    near-dup keeper (MinHash-LSH pairs → connected components →
    min-id keeper) plus an ``isKept`` flag, written as parquet — the
    table a training pipeline joins against to drop duplicates."""
    from pyspark.sql import functions as F

    from .queries import dedup_minhash_assign

    spark = _spark(args.master)
    got = _write_parquet(
        dedup_minhash_assign(spark, args.sf_dir), args.out,
        kept=F.count_if(F.col("isKept")),
    )
    print(json.dumps({**got, "dropped": got["rows"] - got["kept"],
                      "out": args.out}))
    return 0


def cmd_decontaminate(args) -> int:
    """Batch benchmark-decontamination consumable: per-doc contaminated
    shingle counts/fraction + flag, written as parquet. ``--n`` sets
    the shingle width (13 = the standard web-scale check)."""
    from pyspark.sql import functions as F

    from .queries import decontaminate_ngram

    spark = _spark(args.master)
    got = _write_parquet(
        decontaminate_ngram(spark, args.sf_dir, n=args.n), args.out,
        contaminated=F.count_if(F.col("isContaminated")),
    )
    print(json.dumps({**got, "n": args.n, "out": args.out}))
    return 0


def cmd_link(args) -> int:
    """Scored entity-linking consumable: the store's mentions linked to
    their best-scored candidate entity (character-bigram blocked,
    jaccard × ln-df popularity prior — operators/linking.py), written
    as parquet. The mentions are the store's APPEARS_IN mention ids,
    so those merged in after the build are linked too. ``--kb`` points
    at an external entity KB parquet (entNorm, category, df) to
    resolve noisy surface forms against canonical entities;
    ``--kb-store`` derives the KB from the store's own APPEARS_IN
    table (one row per entity-doc pair, so the row count per entity IS
    its document frequency — the canonical popularity prior for
    linking later mention batches); default derives the entity set
    from the mention stream itself (exact surface forms self-link, the
    reference's exact-key behavior)."""
    from pyspark.sql import functions as F

    from .operators.linking import link_mentions
    from .sinks.tables import read_table

    spark = _spark(args.master)
    appears_in = read_table(spark, f"{args.run_dir}/appears_in")
    m = appears_in.select(
        F.explode("mentionIds").alias("mention_id"),
        F.col("endId").alias("documentId"),
        "mentionNorm",
        "category",
    )
    if args.kb_store:
        kb = (
            appears_in.groupBy(F.col("mentionNorm").alias("entNorm"), "category")
            .agg(F.count("*").cast("long").alias("df"))
        )
    elif args.kb:
        kb = spark.read.parquet(args.kb)
    else:
        kb = None
    got = _write_parquet(
        link_mentions(m, entities=kb), args.out,
        exact=F.count_if(F.col("mentionNorm") == F.col("linkedNorm")),
        unlinked=F.count_if(F.col("linkedNorm").isNull()),
    )
    print(json.dumps({"rows": got["rows"], "exact": got["exact"],
                      "fuzzy": got["rows"] - got["exact"] - got["unlinked"],
                      "unlinked": got["unlinked"], "out": args.out}))
    return 0


def cmd_cut_substrings(args) -> int:
    """Batch substring-dedup consumable: every document with repeated
    k-token spans cut out (``--k`` sets the window width; ~50 is the
    Lee-et-al. standard, small k only for tiny-vocab corpora), written
    as parquet with per-doc removed-token counts."""
    from .queries import dedup_substring_apply

    from pyspark.sql import functions as F

    spark = _spark(args.master)
    got = _write_parquet(
        dedup_substring_apply(spark, args.sf_dir, k=args.k), args.out,
        touched=F.count_if(F.col("n_removed") > 0),
        tokens_removed=F.sum("n_removed"),
    )
    print(json.dumps({"rows": got["rows"], "touched": got["touched"],
                      "tokens_removed": int(got["tokens_removed"] or 0),
                      "k": args.k, "out": args.out}))
    return 0


def cmd_neardup_init(args) -> int:
    """Create the near-dup band-signature store from an accepted
    corpus (documents parquet with doc_id + text)."""
    from .sinks.neardup import init_neardup_store

    spark = _spark(args.master)
    docs = spark.read.parquet(args.docs).select("doc_id", "text")
    n = init_neardup_store(spark, docs, args.store)
    print(json.dumps({"store": args.store, "band_rows": n}))
    return 0


def cmd_neardup_increment(args) -> int:
    """Dedupe a new documents batch against the persisted store;
    writes kept docs (and the suppression map) as parquet."""
    from .sinks.neardup import incremental_neardup

    spark = _spark(args.master)
    new_docs = spark.read.parquet(args.docs).select("doc_id", "text")
    res = incremental_neardup(spark, new_docs, args.store)
    res["kept"].write.mode("overwrite").parquet(f"{args.out}/kept")
    res["dups"].write.mode("overwrite").parquet(f"{args.out}/dups")
    print(
        json.dumps(
            {
                "new": res["n_new"],
                "suppressed": res["n_suppressed"],
                "stored_band_rows": res["n_stored_rows"],
                "out": args.out,
            }
        )
    )
    return 0


def cmd_curate(args) -> int:
    """End-to-end curation consumable: the per-document provenance
    table (stage verdicts, first failing stage, curated bit, token
    contribution) written as parquet, plus a JSON summary of the drop
    funnel and the surviving token budget."""
    from pyspark.sql import functions as F

    from .queries import CURATE_DROP_REASONS, curate_corpus

    spark = _spark(args.master)
    reason = F.col("dropReason")
    got = _write_parquet(
        curate_corpus(spark, args.sf_dir), args.out,
        curated_tokens=F.sum("curatedTokens"),
        curated=F.count_if(reason.isNull()),
        **{r: F.count_if(reason == r) for r in CURATE_DROP_REASONS},
    )
    # the funnel lists the outcomes that occur
    funnel = {k: got[k] for k in ("curated", *CURATE_DROP_REASONS) if got[k]}
    print(json.dumps({"rows": got["rows"], "funnel": funnel,
                      "curated_tokens": int(got["curated_tokens"] or 0),
                      "out": args.out}, sort_keys=True))
    return 0


def cmd_scrub(args) -> int:
    """PII scrub consumable: redact emails/IPv4s/phones in a
    documents parquet (doc_id, text) with typed placeholders; writes
    the scrubbed table and reports staged per-rule counts (each rule
    counted on the text the redaction chain hands it, so counts equal
    placeholders written). The row count and the totals are observed
    on the one write."""
    from pyspark.sql import functions as F

    from .functions.pii import redact_pii, staged_pii_counts
    from .observe import observed_write

    spark = _spark(args.master)
    docs = spark.read.parquet(args.docs)
    n_emails, n_ips, n_phones = staged_pii_counts(F.col("text"))
    rules = {"emails": n_emails, "ips": n_ips, "phones": n_phones}
    got = observed_write(
        docs.select(
            *[c for c in docs.columns if c != "text"],
            redact_pii(F.col("text")).alias("text"),
            *[n.alias(f"_{k}") for k, n in rules.items()],
        ),
        lambda o: o.drop(*[f"_{k}" for k in rules]).write.mode(
            "overwrite"
        ).parquet(args.out),
        rows=F.count(F.lit(1)),
        **{k: F.sum(f"_{k}") for k in rules},
    )
    counts = {k: int(got[k] or 0) for k in rules}
    print(json.dumps({"rows": got["rows"], **counts, "out": args.out}))
    return 0


def _run_bundle(spark, args, stages) -> tuple[dict, dict]:
    """Write a corpus bundle's stages under ``--out`` (``run_stages``:
    each dependency wave concurrently; a re-run over an unchanged
    corpus skips completed tables), then release the long-lived
    checkpoint blocks its queries left. Returns the stages' manifest
    entries and the summary: each table's footer row count, the
    released blocks and the output dir."""
    from .manifest import run_stages
    from .checkpoints import release_long_lived_checkpoints

    done = run_stages(
        spark, args.out, stages,
        {"documents": f"{args.sf_dir}/documents.parquet"},
    )
    counts = {name: e["rows_out"] for name, e in done.items()}
    released = release_long_lived_checkpoints(spark)
    return done, {**counts, "released_ckpt_blocks": released, "out": args.out}


def cmd_relations(args) -> int:
    """Graph-analytics consumable: materialize the typed-relation
    family over a corpus — predicate-typed triples, lexicalized
    surface forms, per-entity triangle/clustering stats, and
    link-prediction candidates — as four parquet tables under one
    output dir, with a JSON row-count summary. The KG-enrichment
    bundle a downstream browser/trainer loads next to the node/edge
    tables. The four tables are one wave (``_run_bundle``)."""
    from .pipeline import Stage
    from .queries import (
        kg_link_prediction,
        kg_relation_surface,
        kg_triangle_count,
        kg_typed_relations,
    )

    spark = _spark(args.master)
    queries = {
        "typed_relations": kg_typed_relations,
        "relation_surface": kg_relation_surface,
        "triangle_stats": kg_triangle_count,
        "link_candidates": kg_link_prediction,
    }
    # each query reads the corpus from sf_dir itself; the source input
    # pins the corpus file in the manifest's fingerprint
    stages = [
        Stage(name, ("documents",), lambda _docs, q=q: q(spark, args.sf_dir))
        for name, q in queries.items()
    ]
    _, summary = _run_bundle(spark, args, stages)
    print(json.dumps(summary, sort_keys=True))
    return 0


def cmd_weblinks(args) -> int:
    """Webgraph consumable: materialize the hyperlink family over a
    corpus — the per-anchor link edge stream, host-level link graph,
    host PageRank (directed, dangling-aware), canonical-URL rollup,
    and anchor-text alias table — as five parquet tables under one
    output dir with a JSON row-count summary. The crawl-side bundle a
    frontier scheduler / entity linker loads next to the KG tables.

    Anchor extraction runs ONCE: downstream tables are derived from
    the link_edges parquet written first (at corpus scale the regexp
    extraction pass dominates — never repeat it per output table).
    The waves (``_run_bundle``): link_edges | host_graph,
    url_canonical, anchor_aliases | host_pagerank."""
    from pyspark.sql import functions as F

    from .operators.weblinks import (
        anchor_aliases,
        canonical_url_counts,
        extract_links,
        host_graph,
        host_pagerank,
        synth_link_pages,
    )
    from .pipeline import Stage

    spark = _spark(args.master)
    stages = [
        Stage("link_edges", ("documents",),
              lambda docs: extract_links(synth_link_pages(docs))),
        Stage("host_graph", ("link_edges",), host_graph),
        Stage("host_pagerank", ("host_graph",), host_pagerank),
        Stage("url_canonical", ("link_edges",), canonical_url_counts),
        Stage("anchor_aliases", ("link_edges",), anchor_aliases),
    ]
    done, summary = _run_bundle(spark, args, stages)
    if getattr(args, "graphml", None):
        # host graph through the reference-shaped GraphML dump sink
        # (plans/dump.py — the same writer the KG dump uses): hosts as
        # :Host nodes carrying their pagerank, links as :LINKS_TO
        # edges carrying the aggregated counts
        from .plans.dump import dump_graphml

        pr, hg = (
            spark.read.parquet(done[name]["output"])
            for name in ("host_pagerank", "host_graph")
        )
        nodes = pr.select(
            F.col("host").alias("node_id"),
            F.array(F.lit("Host")).alias("labels"),
            F.create_map(
                F.lit("pagerank"), F.col("pagerank").cast("string")
            ).alias("props"),
        )
        edges = hg.select(
            F.col("srcHost").alias("src"),
            F.col("dstHost").alias("dst"),
            F.lit("LINKS_TO").alias("type"),
            F.create_map(
                F.lit("nLinks"), F.col("nLinks").cast("string"),
                F.lit("nPages"), F.col("nPages").cast("string"),
            ).alias("props"),
        )
        # the host graph is not bounded: stream it into a sibling file,
        # then rename, so a failed read leaves the previous file whole
        tmp = f"{args.graphml}.tmp"
        try:
            with open(tmp, "w", encoding="utf-8") as fh:
                summary["graphml_elements"] = dump_graphml(
                    nodes.toLocalIterator(), edges.toLocalIterator(), fh
                )
            os.replace(tmp, args.graphml)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
    print(json.dumps(summary, sort_keys=True))
    return 0


def cmd_weblinks_init(args) -> int:
    """Create the incremental host-graph ledger from an initial crawl
    batch (sinks/webgraph.py)."""
    from .operators.weblinks import extract_links, synth_link_pages
    from .sinks.webgraph import init_webgraph_store

    spark = _spark(args.master)
    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    if args.filter:
        docs = docs.where(args.filter)
    links = extract_links(synth_link_pages(docs))
    n = init_webgraph_store(
        spark, links, args.store, n_buckets=args.buckets
    )
    print(json.dumps({"ledger_rows": n, "store": args.store}))
    return 0


def cmd_weblinks_increment(args) -> int:
    """MERGE one crawl batch's host-pair partials into the ledger —
    partition-scoped, idempotent under retry of the same batch."""
    from .operators.weblinks import extract_links, synth_link_pages
    from .sinks.webgraph import merge_webgraph_batch, read_host_graph

    spark = _spark(args.master)
    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    if args.filter:
        docs = docs.where(args.filter)
    links = extract_links(synth_link_pages(docs))
    out = merge_webgraph_batch(spark, args.store, links, args.batch_id)
    out["host_pairs_total"] = read_host_graph(spark, args.store).count()
    print(json.dumps(out, sort_keys=True))
    return 0


def _non_negative_int(text: str) -> int:
    n = int(text)
    if n < 0:
        raise argparse.ArgumentTypeError(f"must be >= 0, got {n}")
    return n


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="datashare_extension_neo4j_spark")
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--pages", required=True)
    b.add_argument("--run-dir", required=True)
    b.add_argument("--project", default="test_project")
    b.add_argument("--no-ner", action="store_true")
    b.add_argument("--force", action="store_true")
    b.add_argument(
        "--buckets", type=int, default=None,
        help="number of hash buckets per graph table (tables are "
        "always bucketed on their merge key, so incremental imports "
        "rewrite only touched buckets); default: the session's "
        "spark.sql.shuffle.partitions",
    )
    b.set_defaults(fn=cmd_build)

    inc = sub.add_parser("incremental")
    inc.add_argument("--pages", required=True)
    inc.add_argument("--run-dir", required=True)
    inc.add_argument("--project", default="test_project")
    inc.set_defaults(fn=cmd_incremental)

    im = sub.add_parser("import-mentions")
    im.add_argument("--mentions", required=True, help="mention parquet (MENTION_SCHEMA)")
    im.add_argument("--run-dir", required=True)
    im.set_defaults(fn=cmd_import_mentions)

    e = sub.add_parser("export-csv")
    e.add_argument("--run-dir", required=True)
    e.add_argument("--export-dir", required=True)
    e.add_argument("--db", default="neo4j")
    e_out = e.add_mutually_exclusive_group()
    e_out.add_argument("--tar", action="store_true")
    e_out.add_argument("--distributed", action="store_true")
    e.set_defaults(fn=cmd_export_csv)

    d = sub.add_parser("dump")
    d.add_argument("--run-dir", required=True)
    d.add_argument("--output", required=True)
    d.add_argument("--format", choices=["graphml", "cypher-shell"], default="graphml")
    d.add_argument("--query", default=None, help="DSL JSON string")
    d.add_argument(
        "--limit", type=_non_negative_int, default=10_000,
        help="most documents to dump (with their attached entities); "
        "also caps the doc-id set collected on the driver",
    )
    d.set_defaults(fn=cmd_dump)

    mg = sub.add_parser("migrate")
    mg.add_argument("--run-dir", required=True)
    mg.set_defaults(fn=cmd_migrate)

    vc = sub.add_parser("verify-constraints")
    vc.add_argument("--run-dir", required=True)
    vc.set_defaults(fn=cmd_verify_constraints)

    s = sub.add_parser("stats")
    s.add_argument("--run-dir", required=True)
    s.set_defaults(fn=cmd_stats)

    da = sub.add_parser("dedup-assign")
    da.add_argument("--sf-dir", required=True,
                    help="dir containing documents.parquet")
    da.add_argument("--out", required=True)
    da.set_defaults(fn=cmd_dedup_assign)

    dc = sub.add_parser("decontaminate")
    dc.add_argument("--sf-dir", required=True,
                    help="dir containing documents.parquet")
    dc.add_argument("--out", required=True)
    dc.add_argument("--n", type=_positive_int, default=13,
                    help="shingle width (13 = standard benchmark check)")
    dc.set_defaults(fn=cmd_decontaminate)

    lk = sub.add_parser("link")
    lk.add_argument("--run-dir", required=True)
    lk.add_argument("--out", required=True)
    lk_kb = lk.add_mutually_exclusive_group()
    lk_kb.add_argument("--kb", default=None,
                       help="external KB parquet (entNorm, category, "
                       "df); default: entities self-derived from "
                       "mentions")
    lk_kb.add_argument("--kb-store", action="store_true",
                       help="derive the KB from the store's APPEARS_IN"
                       " table (df = per-entity doc count)")
    lk.set_defaults(fn=cmd_link)

    cs = sub.add_parser("cut-substrings")
    cs.add_argument("--sf-dir", required=True,
                    help="dir containing documents.parquet")
    cs.add_argument("--out", required=True)
    cs.add_argument("--k", type=int, default=50,
                    help="token window width (50 = Lee-et-al. standard)")
    cs.set_defaults(fn=cmd_cut_substrings)

    ni = sub.add_parser("neardup-init")
    ni.add_argument("--docs", required=True,
                    help="documents parquet (doc_id, text)")
    ni.add_argument("--store", required=True,
                    help="band-signature store path to create")
    ni.set_defaults(fn=cmd_neardup_init)

    nu = sub.add_parser("neardup-increment")
    nu.add_argument("--docs", required=True,
                    help="NEW documents parquet (doc_id, text)")
    nu.add_argument("--store", required=True)
    nu.add_argument("--out", required=True,
                    help="writes kept/ and dups/ parquet under here")
    nu.set_defaults(fn=cmd_neardup_increment)

    cu = sub.add_parser("curate")
    cu.add_argument("--sf-dir", required=True,
                    help="table directory holding documents.parquet")
    cu.add_argument("--out", required=True,
                    help="provenance-table parquet path")
    cu.set_defaults(fn=cmd_curate)

    sc = sub.add_parser("scrub")
    sc.add_argument("--docs", required=True,
                    help="documents parquet with a text column")
    sc.add_argument("--out", required=True,
                    help="scrubbed parquet path")
    sc.set_defaults(fn=cmd_scrub)

    rl = sub.add_parser("relations")
    rl.add_argument("--sf-dir", required=True,
                    help="table directory holding documents.parquet")
    rl.add_argument("--out", required=True,
                    help="output dir for the four relation tables")
    rl.set_defaults(fn=cmd_relations)

    wl = sub.add_parser("weblinks")
    wl.add_argument("--sf-dir", required=True,
                    help="table directory holding documents.parquet")
    wl.add_argument("--out", required=True,
                    help="output dir for the five webgraph tables")
    wl.add_argument("--graphml", default=None,
                    help="also dump the host graph as GraphML here")
    wl.set_defaults(fn=cmd_weblinks)

    wi = sub.add_parser("weblinks-init")
    wi.add_argument("--sf-dir", required=True)
    wi.add_argument("--store", required=True)
    wi.add_argument("--filter", default=None,
                    help="SQL predicate selecting the initial batch's docs")
    wi.add_argument("--buckets", type=int, default=8)
    wi.set_defaults(fn=cmd_weblinks_init)

    wn = sub.add_parser("weblinks-increment")
    wn.add_argument("--sf-dir", required=True)
    wn.add_argument("--store", required=True)
    wn.add_argument("--batch-id", required=True)
    wn.add_argument("--filter", default=None,
                    help="SQL predicate selecting this batch's docs")
    wn.set_defaults(fn=cmd_weblinks_increment)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
