"""CLI arg wiring end-to-end (in-process): build → incremental →
import-mentions → export-csv --distributed → stats, sharing the
session via getOrCreate."""

import json

import pytest

from datashare_extension_neo4j_spark.cli import main
from datashare_extension_neo4j_spark.fixtures import reference_pages


def test_cli_full_cycle(spark, tmp_path, capsys):
    pages = reference_pages(spark, n_docs=6)
    pages_path = str(tmp_path / "pages")
    pages.write.parquet(pages_path)
    run_dir = str(tmp_path / "run")

    assert main(["build", "--pages", pages_path, "--run-dir", run_dir,
                 "--buckets", "2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs"].endswith("/docs")

    # incremental re-import of the same pages: zero created
    assert main(["incremental", "--pages", pages_path,
                 "--run-dir", run_dir]) == 0
    c = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert c["nodes_created"] == 0 and c["relationships_created"] == 0

    # NE-only batch via CLI
    from datashare_extension_neo4j_spark.schemas import MENTION_SCHEMA

    m_path = str(tmp_path / "mentions")
    spark.createDataFrame(
        [("m-late", "doc-1", "PERSON", "Zoe", "zoe", 3, "CORENLP", "en",
          [1], None)],
        MENTION_SCHEMA,
    ).write.parquet(m_path)
    assert main(["import-mentions", "--mentions", m_path,
                 "--run-dir", run_dir]) == 0
    c2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert c2["imported"] == 1 and c2["entities_created"] == 1

    exp = str(tmp_path / "export")
    assert main(["export-csv", "--run-dir", run_dir, "--export-dir", exp,
                 "--distributed"]) == 0
    md = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert md["nodes"][0]["nNodes"] == 6
    assert all(len(n["nodePaths"]) >= 1 for n in md["nodes"])

    assert main(["stats", "--run-dir", run_dir]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st  # singleton written and echoed

    # scored entity-link consumable over the store's mention table:
    # self-derived entities → every exact surface form self-links
    lk = str(tmp_path / "links")
    assert main(["link", "--run-dir", run_dir, "--out", lk]) == 0
    lj = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert lj["rows"] > 0 and lj["fuzzy"] == 0 and lj["unlinked"] == 0
    linked = spark.read.parquet(lk)
    assert linked.where("mentionNorm != linkedNorm").count() == 0
    assert linked.where("entityId is null or score is null").count() == 0

    # store-derived KB (df from APPEARS_IN): same mention set → still
    # all exact self-links, same row count
    lk2 = str(tmp_path / "links_store_kb")
    assert main(["link", "--run-dir", run_dir, "--out", lk2,
                 "--kb-store"]) == 0
    lj2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert lj2["rows"] == lj["rows"] and lj2["fuzzy"] == 0



def test_cli_build_enforces_unique_doc_ids(spark, tmp_path, capsys):
    """A build whose pages repeat a doc id raises at the docs stage,
    which records nothing; doc_roots, which reads docs, never runs."""
    from datashare_extension_neo4j_spark.migrations import ConstraintViolation

    pages = reference_pages(spark, n_docs=4)
    pages_path = str(tmp_path / "pages")
    pages.unionByName(pages.limit(1)).write.parquet(pages_path)
    run_dir = tmp_path / "run"
    with pytest.raises(ConstraintViolation, match="docs"):
        main(["build", "--pages", pages_path, "--run-dir", str(run_dir)])
    stages = json.loads((run_dir / "manifest.json").read_text())["stages"]
    assert "parse" in stages
    assert "docs" not in stages and "doc_roots" not in stages


def test_cli_link_reads_mentions_merged_after_the_build(
    spark, tmp_path, capsys, last_sql_execution
):
    """link reads the store's current mentions: one imported by
    import-mentions after the build is linked too. Its summary is
    observed on the write: two SQL executions, the entity frame's
    checkpoint and the write (three count jobs after it made five)."""
    from datashare_extension_neo4j_spark.schemas import MENTION_SCHEMA

    pages_path = str(tmp_path / "pages")
    reference_pages(spark, n_docs=6).write.parquet(pages_path)
    run_dir = str(tmp_path / "run")
    assert main(["build", "--pages", pages_path, "--run-dir", run_dir,
                 "--buckets", "2"]) == 0
    m_path = str(tmp_path / "mentions")
    spark.createDataFrame(
        [("m-late", "doc-1", "PERSON", "Zoe", "zoe", 3, "CORENLP", "en",
          [1], None)],
        MENTION_SCHEMA,
    ).write.parquet(m_path)
    assert main(["import-mentions", "--mentions", m_path,
                 "--run-dir", run_dir]) == 0
    lk = str(tmp_path / "links")
    before = last_sql_execution()
    assert main(["link", "--run-dir", run_dir, "--out", lk]) == 0
    assert last_sql_execution() - before == 2
    c = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert c["rows"] == c["exact"] + c["fuzzy"] + c["unlinked"]
    (row,) = spark.read.parquet(lk).where("mention_id = 'm-late'").collect()
    assert (row["documentId"], row["mentionNorm"], row["category"]) == (
        "doc-1", "zoe", "PERSON"
    )
    assert row["linkedNorm"] == "zoe"

def test_cli_dump_rejects_negative_limit(tmp_path, capsys):
    """--limit bounds the doc ids the dump collects on the driver; a
    negative value is a usage error, not a Spark analysis error."""
    with pytest.raises(SystemExit) as e:
        main(["dump", "--run-dir", str(tmp_path / "run"),
              "--output", str(tmp_path / "d.graphml"), "--limit", "-1"])
    assert e.value.code == 2
    assert "--limit" in capsys.readouterr().err


def test_cli_decontaminate_rejects_width_below_one(tmp_path, capsys):
    """--n 0 would flag every document (all share the empty gram); a
    width below 1 is a usage error."""
    with pytest.raises(SystemExit) as e:
        main(["decontaminate", "--sf-dir", str(tmp_path),
              "--out", str(tmp_path / "out"), "--n", "0"])
    assert e.value.code == 2
    assert "--n" in capsys.readouterr().err


def test_cli_migrate_and_verify(spark, tmp_path, capsys):
    pages = reference_pages(spark, n_docs=4)
    pages_path = str(tmp_path / "pages")
    pages.write.parquet(pages_path)
    run_dir = str(tmp_path / "run")
    assert main(["build", "--pages", pages_path, "--run-dir", run_dir]) == 0
    capsys.readouterr()

    # fresh store: ladder already recorded, nothing to apply, audit ok
    assert main(["migrate", "--run-dir", run_dir]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["applied"] == []
    assert main(["verify-constraints", "--run-dir", run_dir]) == 0
    ok = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ok == {"ok": True}

    # corrupt entities → audit exits 1 with the violation
    ents = f"{run_dir}/entities"
    doubled = spark.read.parquet(ents).unionByName(spark.read.parquet(ents))
    doubled.write.mode("overwrite").parquet(str(tmp_path / "e2"))
    spark.read.parquet(str(tmp_path / "e2")).write.mode(
        "overwrite"
    ).parquet(ents)
    assert main(["verify-constraints", "--run-dir", run_dir]) == 1
    bad = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert bad["ok"] is False and "entities" in bad["violation"]


def test_cli_corpus_filter_consumables(
    spark, tmp_path, capsys, last_sql_execution
):
    """dedup-assign, decontaminate and cut-substrings write consumable
    parquet tables and report counters observed on that one write (no
    job reads the output back); keeper semantics spot-checked."""
    out1 = str(tmp_path / "keepers")
    before = last_sql_execution()
    assert main(["dedup-assign", "--sf-dir", "/root/testdata/sf0.001",
                 "--out", out1]) == 0
    assert last_sql_execution() - before == 8  # two counts after took 10
    c = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert c["rows"] == 500 and c["kept"] + c["dropped"] == 500
    rows = spark.read.parquet(out1).collect()
    kept_ids = {r["doc_id"] for r in rows if r["isKept"]}
    # every keeper must itself be kept
    assert {r["keepDocId"] for r in rows} <= kept_ids

    out2 = str(tmp_path / "contam")
    before = last_sql_execution()
    assert main(["decontaminate", "--sf-dir", "/root/testdata/sf0.001",
                 "--out", out2, "--n", "2"]) == 0
    assert last_sql_execution() - before == 1  # two counts after took 3
    c2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert c2["rows"] == 475 and c2["n"] == 2

    out3 = str(tmp_path / "cut")
    before = last_sql_execution()
    assert main(["cut-substrings", "--sf-dir", "/root/testdata/sf0.001",
                 "--out", out3, "--k", "5"]) == 0
    assert last_sql_execution() - before == 1  # an aggregate after took 2
    c3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert c3["rows"] == 500 and c3["k"] == 5
    assert 0 < c3["touched"] <= 500 and c3["tokens_removed"] > 0
    # cut output parses back and cleaned docs are never longer
    cut = spark.read.parquet(out3)
    assert cut.where(
        "length(cleaned_text) > 0 and n_removed < 0"
    ).count() == 0


def test_cli_curate_and_scrub(spark, tmp_path, capsys, last_sql_execution):
    """curate writes the provenance table + drop funnel, observed on
    the one write; scrub writes the redacted corpus with staged
    counters."""
    out1 = str(tmp_path / "curated")
    before = last_sql_execution()
    assert main(["curate", "--sf-dir", "/root/testdata/sf0.001",
                 "--out", out1]) == 0
    # a funnel groupBy, a token sum and a row count after took 11
    assert last_sql_execution() - before == 8
    c = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert c["rows"] == 500
    assert c["funnel"] == {
        "contaminated": 13, "curated": 398, "evalSlice": 25, "nearDup": 18,
        "quality": 46,
    }
    assert c["curated_tokens"] > 0
    v = spark.read.parquet(out1)
    assert v.where("curated and dropReason is not null").count() == 0

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "mail a@b.co or 10.0.0.1"), (2, "clean")],
        "doc_id long, text string",
    ).write.parquet(docs)
    out2 = str(tmp_path / "scrubbed")
    assert main(["scrub", "--docs", docs, "--out", out2]) == 0
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (s["rows"], s["emails"], s["ips"]) == (2, 1, 1)
    got = {r.doc_id: r.text for r in spark.read.parquet(out2).collect()}
    assert got[1] == "mail <EMAIL> or <IP>" and got[2] == "clean"


def test_cli_scrub_runs_one_execution(spark, tmp_path, capsys, last_sql_execution):
    """scrub observes its row count and per-rule totals on the one
    write of the redacted table: one SQL execution for the command
    (the write, a totals aggregate and a row count took 3)."""
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "mail a@b.co, c@d.org or 10.0.0.1"), (2, None), (3, "x")],
        "doc_id long, text string",
    ).write.parquet(docs)
    before = last_sql_execution()
    assert main(["scrub", "--docs", docs, "--out", str(tmp_path / "s")]) == 0
    assert last_sql_execution() - before == 1
    s = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (s["rows"], s["emails"], s["ips"], s["phones"]) == (3, 2, 1, 0)


def test_cli_neardup_store_cycle(spark, tmp_path, capsys, last_sql_execution):
    """neardup-init then neardup-increment: dup suppressed against the
    store, survivor appended, outputs written. The store's row counts
    are read from its parquet footers: neardup-init is its one write."""
    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t3 = "iota kappa lambda mu nu xi omicron pi rho"
    base = str(tmp_path / "base")
    spark.createDataFrame(
        [(1, t1)], "doc_id long, text string"
    ).write.parquet(base)
    store = str(tmp_path / "store")
    before = last_sql_execution()
    assert main(["neardup-init", "--docs", base, "--store", store]) == 0
    assert last_sql_execution() - before == 1
    init = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert init["band_rows"] == spark.read.parquet(store).count() > 0

    newb = str(tmp_path / "new")
    spark.createDataFrame(
        [(2, t1), (3, t3)], "doc_id long, text string"
    ).write.parquet(newb)
    out = str(tmp_path / "out")
    assert main(["neardup-increment", "--docs", newb, "--store", store,
                 "--out", out]) == 0
    inc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert inc["new"] == 2 and inc["suppressed"] == 1
    assert [r["doc_id"] for r in spark.read.parquet(f"{out}/kept").collect()] == [3]
    dups = spark.read.parquet(f"{out}/dups").collect()
    assert [(r["doc_id"], r["keeperDocId"]) for r in dups] == [(2, 1)]


def test_cli_relations_bundle(spark, tmp_path, capsys):
    """relations materializes the four graph-analytics tables and
    reports counts; checkpoint blocks created by the triangle/link
    queries are released before exit."""
    out = str(tmp_path / "rel")
    assert main(["relations", "--sf-dir", "/root/testdata/sf0.001",
                 "--out", out]) == 0
    r = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r["typed_relations"] > 0
    assert r["relation_surface"] > 0
    assert r["triangle_stats"] == 7
    assert r["link_candidates"] > 0
    assert r["released_ckpt_blocks"] >= 4
    t = spark.read.parquet(out + "/typed_relations")
    assert set(t.columns) == {
        "subj", "predicate", "obj", "nMentionPairs", "nDocs", "minGap"
    }


def test_cli_weblinks_bundle(spark, tmp_path, capsys):
    """weblinks materializes the five webgraph tables with counts and
    releases the PageRank loop's final checkpoint before exit."""
    out = str(tmp_path / "web")
    assert main(["weblinks", "--sf-dir", "/root/testdata/sf0.001",
                 "--out", out]) == 0
    r = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r["link_edges"] > 0
    assert r["host_graph"] > 0
    assert r["host_pagerank"] > 0
    assert r["url_canonical"] > 0
    assert r["anchor_aliases"] > 0
    assert r["released_ckpt_blocks"] >= 1
    pr = spark.read.parquet(out + "/host_pagerank")
    assert set(pr.columns) == {"host", "pagerank"}
    al = spark.read.parquet(out + "/anchor_aliases").collect()
    # alias mining is non-degenerate: some target carries >1 surface
    assert any(row.nForms > 1 for row in al)


def test_cli_weblinks_bundle_equals_registry_queries(spark, tmp_path, capsys):
    """The bundle's rollup tables, derived from its stored link edges,
    equal the registry queries that derive them from the corpus."""
    from datashare_extension_neo4j_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "web")
    assert main(["weblinks", "--sf-dir", sf, "--out", out]) == 0
    capsys.readouterr()
    for table, query in [
        ("url_canonical", "web_url_canonical"),
        ("anchor_aliases", "web_anchor_aliases"),
    ]:
        stored = spark.read.parquet(f"{out}/{table}")
        expected = QUERIES[query][0](spark, sf)
        assert stored.columns == expected.columns, table
        assert sorted(map(tuple, stored.collect())) == sorted(
            map(tuple, expected.collect())
        ), table
    ranks = lambda df: dict(map(tuple, df.collect()))  # noqa: E731
    stored = ranks(spark.read.parquet(f"{out}/host_pagerank"))
    expected = ranks(QUERIES["web_host_pagerank"][0](spark, sf))
    assert stored.keys() == expected.keys()
    # each round rounds to 6 digits; a float-summation-order difference
    # could at most tip one rounding step
    assert stored == pytest.approx(expected, abs=1e-6)


def test_cli_weblinks_incremental_cycle(
    spark, tmp_path, capsys, last_sql_execution
):
    """weblinks-init writes the ledger in one SQL execution (its row
    count is read from the parquet footers), then an increment MERGEs
    the other half to the full-corpus host graph."""
    store = str(tmp_path / "ledger")
    before = last_sql_execution()
    assert main(["weblinks-init", "--sf-dir", "/root/testdata/sf0.001",
                 "--store", store, "--filter", "doc_id % 2 = 0"]) == 0
    assert last_sql_execution() - before == 1
    r0 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r0["ledger_rows"] == spark.read.parquet(store).count() > 0
    assert main(["weblinks-increment", "--sf-dir", "/root/testdata/sf0.001",
                 "--store", store, "--batch-id", "b1",
                 "--filter", "doc_id % 2 = 1"]) == 0
    r1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r1["partial_rows"] > 0 and r1["touched_buckets"] > 0
    # ledger now equals the full-corpus host graph
    from datashare_extension_neo4j_spark.operators.weblinks import (
        extract_links, host_graph, synth_link_pages,
    )
    from datashare_extension_neo4j_spark.sinks.webgraph import read_host_graph
    full = host_graph(extract_links(synth_link_pages(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )))
    assert sorted(map(tuple, read_host_graph(spark, store).collect())) \
        == sorted(map(tuple, full.collect()))


def test_cli_weblinks_bundle_resumes(spark, tmp_path, capsys):
    """Manifest-guarded bundle: a second run over unchanged inputs
    skips every stage (completed_at timestamps unchanged)."""
    out = str(tmp_path / "web")
    assert main(["weblinks", "--sf-dir", "/root/testdata/sf0.001",
                 "--out", out]) == 0
    capsys.readouterr()
    m1 = json.loads((tmp_path / "web" / "manifest.json").read_text())
    stamps1 = {s: e["completed_at"] for s, e in m1["stages"].items()}
    assert set(stamps1) == {"link_edges", "host_graph", "host_pagerank",
                            "url_canonical", "anchor_aliases"}
    assert all(e["rows_out"] > 0 for e in m1["stages"].values())
    assert main(["weblinks", "--sf-dir", "/root/testdata/sf0.001",
                 "--out", out]) == 0
    r2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    m2 = json.loads((tmp_path / "web" / "manifest.json").read_text())
    stamps2 = {s: e["completed_at"] for s, e in m2["stages"].items()}
    assert stamps2 == stamps1  # nothing re-ran
    assert r2["link_edges"] > 0  # counts still reported


def test_cli_weblinks_graphml_dump(spark, tmp_path, capsys):
    """--graphml routes the host graph through the generic GraphML
    dump sink: well-formed XML, Host nodes with pagerank, LINKS_TO
    edges with counts."""
    import xml.etree.ElementTree as ET

    out = str(tmp_path / "web")
    gml = str(tmp_path / "hosts.graphml")
    assert main(["weblinks", "--sf-dir", "/root/testdata/sf0.001",
                 "--out", out, "--graphml", gml]) == 0
    r = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert r["graphml_elements"] == r["host_pagerank"] + r["host_graph"]
    root = ET.parse(gml).getroot()
    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    nodes = root.findall(".//g:node", ns)
    edges = root.findall(".//g:edge", ns)
    assert len(nodes) == r["host_pagerank"]
    assert len(edges) == r["host_graph"]
    assert all(n.get("labels") == ":Host" for n in nodes)
    assert all(e.get("label") == "LINKS_TO" for e in edges)


def test_cli_weblinks_failed_graphml_keeps_the_previous_file(
    spark, tmp_path, capsys, monkeypatch
):
    """--graphml streams into a sibling file and renames it over the
    target: a read that fails leaves the previous file byte-identical
    and no temporary file behind."""
    gml = tmp_path / "hosts.graphml"
    argv = ["weblinks", "--sf-dir", "/root/testdata/sf0.001",
            "--out", str(tmp_path / "web"), "--graphml", str(gml)]
    assert main(argv) == 0
    previous = gml.read_bytes()

    def boom(self, *args, **kwargs):
        raise RuntimeError("injected read fault")

    monkeypatch.setattr(type(spark.range(0)), "toLocalIterator", boom)
    with pytest.raises(RuntimeError, match="injected read fault"):
        main(argv)
    assert gml.read_bytes() == previous
    assert sorted(p.name for p in tmp_path.iterdir()) == ["hosts.graphml", "web"]


def test_cli_weblinks_bundle_detects_changed_corpus(spark, tmp_path, capsys):
    """A regenerated (single-file) documents.parquet at the same path
    must invalidate the manifest fingerprint: the bundle re-runs
    instead of silently serving tables from the old corpus."""
    import shutil
    import time as _time

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/documents.parquet",
        sf / "documents.parquet",
    )
    out = str(tmp_path / "web")
    assert main(["weblinks", "--sf-dir", str(sf), "--out", out]) == 0
    capsys.readouterr()
    m1 = json.loads((tmp_path / "web" / "manifest.json").read_text())
    t1 = m1["stages"]["link_edges"]["completed_at"]
    # regenerate the corpus file (halved) at the same path
    _time.sleep(1.1)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.where("doc_id < 250").toPandas().to_parquet(
        sf / "documents.parquet"
    )
    assert main(["weblinks", "--sf-dir", str(sf), "--out", out]) == 0
    r2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    m2 = json.loads((tmp_path / "web" / "manifest.json").read_text())
    assert m2["stages"]["link_edges"]["completed_at"] > t1  # re-ran
    assert 0 < r2["link_edges"] < 2958  # counts reflect the new corpus


def test_cli_export_csv_tar_excludes_distributed(tmp_path, capsys):
    """--tar has no distributed writer: the two flags are refused
    together instead of --tar being dropped silently."""
    with pytest.raises(SystemExit) as e:
        main(["export-csv", "--run-dir", str(tmp_path / "run"),
              "--export-dir", str(tmp_path / "export"),
              "--tar", "--distributed"])
    assert e.value.code == 2
    assert "not allowed with argument" in capsys.readouterr().err
