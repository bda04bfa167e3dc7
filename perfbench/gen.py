"""Seeded benchmark inputs and the truth planted in them.

Everything the benchmark feeds the program comes from here, derived
from ``--seed`` alone; nothing is read from the package's own fixtures,
so editing them cannot change what is measured.

Pages carry a known set of graph facts:

* ``<span class="ne">`` annotations (pre-extracted named entities),
* gazetteer words dropped into the body text (rule NER hits),
* ``From:`` / ``To:`` lines holding one e-mail address each,
* an optional ``ds:root`` parent.

Filler text is drawn from a syllable vocabulary that holds no gazetteer
word and no ``@``, so the planted facts are the only ones a correct
build can emit. Truth is kept as (subject, predicate, object) triples
per document: ``("PERSON:kova lira", "APPEARS_IN", doc)``,
``("EMAIL:a@b.org", "SENT", doc)``, ``(doc, "HAS_PARENT", root)``.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the program's rule-NER gazetteer, restated as the spec the output is
# checked against (word -> category)
GAZETTEER = {
    "customer": "PERSON",
    "supplier": "PERSON",
    "spark": "ORGANIZATION",
    "window": "LOCATION",
    "table": "LOCATION",
    "vector": "ORGANIZATION",
    "stream": "LOCATION",
    "batch": "ORGANIZATION",
}
NE_CATEGORIES = ["PERSON", "ORGANIZATION", "LOCATION"]
DUMP_LABELS = NE_CATEGORIES + ["EMAIL"]
LANGS = ["en", "fr", "de"]
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

# the query_mix set: bench.py's ten headline queries plus three heavy
# KG/dedup leaves
QUERY_SET = [
    "kg_mentions",
    "kg_appears_in",
    "kg_entities",
    "kg_email_edges",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "ann_cosine_topk",
    "text_stats",
    "tpch_q1",
    "join_topn",
    "dedup_ngram_jaccard",
    "kg_triples",
    "kg_entity_pagerank",
]

_ONSETS = "b c d f g h j k l m n p r s t v z br dr gr kl pl tr st".split()
_VOWELS = "a e i o u ai ei ou".split()

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def _word(rng: random.Random, syllables: int) -> str:
    return "".join(
        rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(syllables)
    )


def vocabulary(rng: random.Random, n: int, syllables=(2, 4)) -> list[str]:
    """``n`` distinct filler words, none of them a gazetteer word."""
    words: set[str] = set()
    while len(words) < n:
        w = _word(rng, rng.randint(*syllables))
        if w not in GAZETTEER:
            words.add(w)
    return sorted(words)


@dataclass
class Universe:
    """Per-seed name pools shared by a corpus and its increments."""

    filler: np.ndarray
    entities: list[tuple[str, str]]  # (surface form, category)
    emails: list[str]

    @classmethod
    def make(cls, seed: int) -> "Universe":
        rng = random.Random(f"universe-{seed}")
        filler = np.array(vocabulary(rng, 6000), dtype=object)
        names = vocabulary(rng, 1200, syllables=(2, 3))
        ents = sorted(
            {
                (f"{names[rng.randrange(600)].title()} "
                 f"{names[600 + rng.randrange(600)].title()}",
                 rng.choice(NE_CATEGORIES))
                for _ in range(800)
            }
        )
        users = vocabulary(rng, 300, syllables=(2, 3))
        domains = vocabulary(rng, 40, syllables=(2, 2))
        emails = sorted(
            {f"{rng.choice(users)}.{rng.choice(users)}@{rng.choice(domains)}.org"
             for _ in range(400)}
        )
        return cls(filler=filler, entities=ents, emails=emails)


@dataclass
class Corpus:
    """Pages plus the facts planted in them."""

    pages: list[dict]
    truth: dict[str, frozenset] = field(default_factory=dict)
    dirname: dict[str, str] = field(default_factory=dict)

    @property
    def ids(self) -> list[str]:
        return list(self.truth)


def doc_id(i: int) -> str:
    return f"d{i:07d}"


def _page(
    u: Universe, rng: random.Random, nrng: np.random.Generator, i: int,
    version: int, n_dirs: int, words: int, root: str | None,
) -> tuple[dict, frozenset, str]:
    did = doc_id(i)
    host, d = i % 13, i % n_dirs
    path = f"h{host}.example/dir{d:04d}/page{i}.html"
    lang = LANGS[i % len(LANGS)]
    triples = set()
    # filler paragraphs, gazetteer words dropped at random word slots
    body = list(u.filler[nrng.integers(0, len(u.filler), words)])
    planted = [
        w for w in rng.sample(sorted(GAZETTEER), rng.randint(1, 3))
        for _ in range(rng.randint(1, 2))
    ]
    for w, pos in zip(planted, rng.sample(range(len(body)), len(planted))):
        body[pos] = w.title() if rng.random() < 0.3 else w
        triples.add((f"{GAZETTEER[w]}:{w}", "APPEARS_IN", did))
    paras = [" ".join(body[k : k + 80]) for k in range(0, len(body), 80)]
    blocks = [f"<p>{p}</p>" for p in paras]
    # named-entity annotations
    spans = []
    for j, (surface, cat) in enumerate(
        rng.sample(u.entities, rng.randint(2, 5))
    ):
        norm = surface.lower()
        spans.append(
            f'<div><span class="ne" data-id="{did}-v{version}-ne{j}"'
            f' data-category="{cat}" data-mention="{surface}"'
            f' data-norm="{norm}" data-extractor="corenlp"'
            f' data-lang="{lang}" data-offsets="{j * 7}">{surface}</span></div>'
        )
        triples.add((f"{cat}:{norm}", "APPEARS_IN", did))
    # e-mail header lines, one address each
    for header, pred in (("From", "SENT"), ("To", "RECEIVED")):
        if rng.random() < 0.5:
            addr = rng.choice(u.emails)
            blocks.insert(rng.randrange(len(blocks) + 1), f"<p>{header}: {addr}</p>")
            triples.add((f"EMAIL:{addr}", "APPEARS_IN", did))
            triples.add((f"EMAIL:{addr}", pred, did))
    metas = [f'<meta name="ds:id" content="{did}"/>']
    if root is not None and root != did:
        metas.append(f'<meta name="ds:root" content="{root}"/>')
        triples.add((did, "HAS_PARENT", root))
    html = (
        "<html><head><title>page</title>" + "".join(metas) + "</head><body>\n"
        + "\n".join(blocks) + "\n" + "\n".join(spans) + "\n</body></html>"
    )
    page = {
        "url": f"https://{path}",
        "warc_ts": EPOCH + timedelta(seconds=i * 37 + version),
        "html": html.encode(),
        "text": None,
        "lang": lang,
    }
    return page, frozenset(triples), f"h{host}.example/dir{d:04d}"


def _dirs(n_docs: int) -> int:
    # ~24 documents per directory: a dump over one directory stays far
    # below the CLI's default row limit
    return max(1, n_docs // 24)


def corpus(seed: int, n_docs: int, words: int, tag: str = "base") -> Corpus:
    """``n_docs`` pages of ``words`` filler words (~7 bytes each)."""
    u = Universe.make(seed)
    rng = random.Random(f"{tag}-{seed}")
    nrng = np.random.default_rng([seed, n_docs, words])
    out = Corpus(pages=[])
    n_dirs = _dirs(n_docs)
    for i in range(n_docs):
        root = doc_id(rng.randrange(i)) if i and rng.random() < 0.2 else None
        page, triples, dirname = _page(u, rng, nrng, i, 0, n_dirs, words, root)
        out.pages.append(page)
        out.truth[doc_id(i)] = triples
        out.dirname[doc_id(i)] = dirname
    return out


def increment(
    seed: int, k: int, base_docs: int, n_pages: int, words: int
) -> Corpus:
    """Batch ``k`` against a base corpus of ``base_docs`` pages: half
    re-imports of base ids with fresh mentions (the ON MATCH path),
    half new ids (CREATE). New ids never collide across batches."""
    u = Universe.make(seed)
    rng = random.Random(f"increment-{seed}-{k}")
    nrng = np.random.default_rng([seed, k, n_pages, 1])
    n_dirs = _dirs(base_docs)
    n_old = n_pages // 2
    old = rng.sample(range(base_docs), n_old)
    new = range(base_docs + k * n_pages, base_docs + k * n_pages + n_pages - n_old)
    out = Corpus(pages=[])
    for i in list(old) + list(new):
        root = doc_id(rng.randrange(base_docs)) if rng.random() < 0.2 else None
        page, triples, dirname = _page(
            u, rng, nrng, i, k + 1, n_dirs, words, root
        )
        out.pages.append(page)
        out.truth[doc_id(i)] = triples
        out.dirname[doc_id(i)] = dirname
    return out


def write_pages(pages: list[dict], path: Path, n_files: int) -> None:
    """Pages as ``n_files`` parquet files under directory ``path``."""
    path.mkdir(parents=True, exist_ok=True)
    per = -(-len(pages) // n_files)
    for f in range(n_files):
        chunk = pages[f * per : (f + 1) * per]
        if chunk:
            table = pa.Table.from_pylist(chunk, schema=PAGES_SCHEMA)
            pq.write_table(table, path / f"part-{f:05d}.parquet")


class Store:
    """Truth about a graph store as builds and increments land on it:
    re-imported documents keep the union of every version's edges (the
    ON MATCH array-union semantics)."""

    def __init__(self, c: Corpus):
        self.truth = dict(c.truth)
        self.dirname = dict(c.dirname)

    def entities(self) -> set[str]:
        return {
            s for ts in self.truth.values() for s, p, _ in ts if p != "HAS_PARENT"
        }

    def apply(self, inc: Corpus) -> dict[str, int]:
        """Merge an increment; returns the import summary it must
        produce (keys of the CLI's ``incremental`` counters)."""
        before = self.entities()
        new_docs = new_edges = 0
        for d, t in inc.truth.items():
            old = self.truth.get(d)
            new_docs += old is None
            new_edges += len(t - (old or frozenset()))
            self.truth[d] = (old or frozenset()) | t
            self.dirname.setdefault(d, inc.dirname[d])
        return {
            "imported": len(inc.truth),
            "nodes_created": new_docs,
            "relationships_created": new_edges,
            "entities_created": len(self.entities() - before),
        }

    def counts(self) -> dict[str, int]:
        edges = [t for ts in self.truth.values() for t in ts]
        return {
            "docs": len(self.truth),
            "entities": len(self.entities()),
            "doc_roots": sum(p == "HAS_PARENT" for _, p, _ in edges),
            "appears_in": sum(p == "APPEARS_IN" for _, p, _ in edges),
            "emails": sum(p in ("SENT", "RECEIVED") for _, p, _ in edges),
        }

    def all_triples(self) -> set:
        return {t for ts in self.truth.values() for t in ts}

    def dump_truth(self, dirname: str, label: str) -> tuple[int, set]:
        """(element count, edge triples) of the DSL dump for documents
        in ``dirname`` with an APPEARS_IN edge from an entity labelled
        ``label``: the documents, every APPEARS_IN/SENT/RECEIVED edge
        touching them, and those edges' entities."""
        docs = [
            d for d, t in self.truth.items()
            if self.dirname[d] == dirname
            and any(p == "APPEARS_IN" and s.startswith(label + ":")
                    for s, p, _ in t)
        ]
        edges = {
            t for d in docs for t in self.truth[d] if t[1] != "HAS_PARENT"
        }
        return len(docs) + len({s for s, _, _ in edges}) + len(edges), edges


def dump_query(rng: random.Random, store: Store) -> tuple[dict, str, str]:
    """A seeded DSL dump: documents of one directory with an APPEARS_IN
    hop to an entity of one label. Returns (query, dirname, label)."""
    dirname = rng.choice(sorted(set(store.dirname.values())))
    label = rng.choice(DUMP_LABELS)
    q = {
        "queries": [
            {
                "matches": [
                    {
                        "path": {
                            "nodes": [
                                {"name": "doc", "labels": ["Document"],
                                 "properties": {"dirname": dirname}},
                                {"name": "ne", "labels": [label]},
                            ],
                            "relationships": [
                                {"name": "rel", "types": ["APPEARS_IN"],
                                 "direction": "from"}
                            ],
                        }
                    }
                ]
            }
        ]
    }
    return q, dirname, label


def query_order(seed: int, p: int) -> list[str]:
    """Pass ``p``'s seeded order over QUERY_SET."""
    order = list(QUERY_SET)
    random.Random(f"order-{seed}-{p}").shuffle(order)
    return order


# --- query_mix tables ------------------------------------------------

_DOC_WORDS = sorted(GAZETTEER) + (
    "part line column order small sort fast value scan hash slow group "
    "agg filter query big key row merge data index shard page node edge "
    "graph cache disk byte"
).split()


def write_query_tables(seed: int, out: Path, n_docs: int) -> None:
    """TPC-H-shaped tables plus documents/embeddings in the layout the
    query registry reads (``<table>.parquet`` under one directory).
    Sizes scale with ``n_docs``; every eighth document is a one-letter
    edit of an earlier one so the dedup queries find pairs.

    Document lengths, languages and duplicate links depend on the row
    index only, so the dedup blocking (language, length bucket) and the
    pair counts it implies are the same for every seed; the seed picks
    the words."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, n_docs, 2])
    vocab = np.array(_DOC_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 8 and i % 8 == 0:
            src = texts[i - 8 * (1 + i % 5) if i >= 40 else i - 8]
            pos = int(rng.integers(0, len(src)))
            ch = "x" if src[pos] != " " else " "
            texts.append(src[:pos] + ch + src[pos + 1 :])
        else:
            n_chars = 120 + (i * 7919) % 380
            toks = vocab[rng.integers(0, len(vocab), n_chars // 3)]
            texts.append(" ".join(toks)[:n_chars].rstrip())
    langs = ["en", "fr", "de", "zh"]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([langs[i % 4] for i in range(n_docs)], pa.string()),
            "source": pa.array([f"src{i % 7}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        out / "documents.parquet",
    )
    n_vec = n_docs // 2
    emb = rng.standard_normal((n_vec, 64)).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }),
        out / "embeddings.parquet",
    )
    n_cust = n_docs * 3
    pq.write_table(
        pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(
                np.array(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD",
                          "FURNITURE"], dtype=object)[rng.integers(0, 5, n_cust)],
                pa.string(),
            ),
        }),
        out / "customer.parquet",
    )
    n_ord = n_cust * 10
    day = np.datetime64("1992-01-01", "us")
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(
                np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
                pa.string(),
            ),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, n_ord), 2)),
            "o_orderdate": pa.array(
                day + rng.integers(0, 2500, n_ord) * np.timedelta64(1, "D"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                          "5-LOW"], dtype=object)[rng.integers(0, 5, n_ord)],
                pa.string(),
            ),
        }),
        out / "orders.parquet",
    )
    n_li = n_ord * 4
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(
                np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
                pa.string(),
            ),
            "l_linestatus": pa.array(
                np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
                pa.string(),
            ),
            "l_shipdate": pa.array(
                day + rng.integers(0, 3500, n_li) * np.timedelta64(1, "D"),
                pa.timestamp("us"),
            ),
        }),
        out / "lineitem.parquet",
    )
