"""The P/R gate (BASELINE.json: triple P/R ≥ 0.95 vs the reference
export). The golden (subj, pred, obj) set is derived independently
from the corpus definition (FIXTURES.md §2-4 = the reference conftest
semantics), not from our pipeline code."""

from datashare_extension_neo4j_spark.fixtures import (
    make_doc,
    make_email_mentions,
    make_mention,
    reference_pages,
)
from datashare_extension_neo4j_spark.functions.hashing import make_entity_id
from datashare_extension_neo4j_spark.pipeline import build_graph

N = 20


def golden_triples() -> set[tuple[str, str, str]]:
    triples = set()
    for i in range(N):
        doc = make_doc(i, N)
        if doc["rootDocument"] != doc["id"]:
            triples.add((doc["id"], "HAS_PARENT", doc["rootDocument"]))
    for i in range(N):
        m = make_mention(i)
        subj = make_entity_id(m["mentionNorm"], m["category"])
        triples.add((subj, "APPEARS_IN", m["documentId"]))
    for em in make_email_mentions(f"doc-{N - 1}"):
        subj = make_entity_id(em["mentionNorm"], em["category"])
        triples.add((subj, "APPEARS_IN", em["documentId"]))
        t = (
            "SENT"
            if em["metadata"]["emailHeaderField"] == "tika_metadata_message_from"
            else "RECEIVED"
        )
        triples.add((subj, t, em["documentId"]))
    return triples


def emitted_triples(g) -> set[tuple[str, str, str]]:
    out = set()
    for r in g.doc_roots.collect():
        out.add((r["src"], "HAS_PARENT", r["dst"]))
    for r in g.appears_in.collect():
        out.add((r["startId"], r["type"], r["endId"]))
    for r in g.emails.collect():
        out.add((r["startId"], r["type"], r["endId"]))
    return out


def test_triple_precision_recall(spark):
    gold = golden_triples()
    pages = reference_pages(spark, n_docs=N, n_noise=5)
    g = build_graph(pages)  # parity mode: no rule NER
    got = emitted_triples(g)
    tp = len(gold & got)
    precision = tp / len(got)
    recall = tp / len(gold)
    print(f"\ntriples: gold={len(gold)} emitted={len(got)} "
          f"P={precision:.4f} R={recall:.4f}")
    assert precision >= 0.95, (precision, sorted(got - gold)[:5])
    assert recall >= 0.95, (recall, sorted(gold - got)[:5])

