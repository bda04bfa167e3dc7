"""End-to-end KG construction pipeline (SURVEY.md §3.1/§3.2 reshaped
Spark-first): the graph's derivation, defined once.

  pages ─▶ parse ──┬─▶ docs ─▶ doc_roots (HAS_PARENT)
                   ├─▶ appears_in
                   ├─▶ emails
                   └─▶ entities (dedup)

``parse`` is the widen guard plus one mapInPandas pass: text
extraction, inline annotations, fused rule NER, and the per-document
APPEARS_IN / SENT / RECEIVED aggregation (the key (mentionNorm,
category, documentId) never crosses documents, so it completes inside
the pass). Every later stage is a projection of its inputs; the only
shuffle left is the entities dedup. The parse keeps only what a later
stage reads (no text, no raw mention array). The two options are
``use_rule_ner`` (parse) and ``project`` (docs' ``urlSuffix``).

``STAGES`` lists (name, inputs, function); the runner, not the
builder, decides what is materialized:

  * ``build_graph`` returns lazy frames, with the parse optionally
    checkpointed to parquet (increments, bench, kg_full_pipeline);
  * ``manifest.run_pipeline`` (``cli build``) hands them to
    ``manifest.run_stages``, which writes them as manifest-guarded
    parquet, each dependency wave's stages concurrently: parse | docs,
    appears_in, emails, entities | doc_roots.

Everything else that stores the graph goes through the one store
writer, ``sinks.tables.write_tables``, which creates or MERGEs the
tables concurrently: ``materialize_graph`` and ``incremental_import``
feed it ``build_graph``'s tables, and the streaming ingest is one
``incremental_import`` per micro-batch.

The reference's 5-phase async dance (sliced ES scans → bounded queues
→ single-writer MERGE, core/imports.py:147-316,582-737) collapses into
this DAG: slicing = input partitions, backpressure = Spark pipelining.
The groupBy operators (edges.appears_in_edges / email_edges,
entities.entity_nodes) stay the reference semantics for mention
streams that arrive without their documents —
``sinks.tables.incremental_import_mentions``, which applies the
doc-id semi-join (J1, reference imports.py:829-871) — and the tests
hold this DAG equal to them.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from dataclasses import dataclass, fields
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.documents import doc_nodes, has_parent_edges
from .operators.edges import appears_in_from_parsed, email_edges_from_parsed
from .operators.entities import entity_nodes
from .operators.extract import PARSED_SCHEMA, parse_pages
from .operators.ner import DEFAULT_GAZETTEER
from .sources.pages import widen


@dataclass
class GraphBuild:
    docs: DataFrame
    doc_roots: DataFrame
    entities: DataFrame
    appears_in: DataFrame
    emails: DataFrame


class BuildOptions(NamedTuple):
    project: str = "test_project"
    use_rule_ner: bool = False


# per-document carrier columns a parse has carried (today only
# ann_edges, the input of the edge stages), never part of the docs
# table
CARRIERS = ("ann_mentions", "ann_edges")

# digest of the parse output's schema: a stored parse written under
# another carrier layout is stale even for identical pages, so it is
# re-run instead of feeding old carriers to today's stage functions
PARSE_LAYOUT = hashlib.sha1(PARSED_SCHEMA.json().encode()).hexdigest()[:12]


def parse_stage(o: BuildOptions, pages: DataFrame) -> DataFrame:
    return parse_pages(
        widen(pages),
        include_text=False,
        ner_gazetteer=DEFAULT_GAZETTEER if o.use_rule_ner else None,
        emit_mentions=False,
    )


def docs_stage(o: BuildOptions, parsed: DataFrame) -> DataFrame:
    return doc_nodes(parsed, project=o.project).drop(*CARRIERS)


def entities_stage(o: BuildOptions, parsed: DataFrame) -> DataFrame:
    # one explode of the edge carrier covers APPEARS_IN and SENT /
    # RECEIVED keys alike
    e = parsed.select(F.explode("ann_edges").alias("e"))
    return entity_nodes(e.select("e.mentionNorm", "e.category"))


class Stage(NamedTuple):
    name: str
    inputs: tuple[str, ...]
    fn: Callable[..., DataFrame]  # fn(options, *input frames)


# topologically ordered; "pages" is the one external input
STAGES: tuple[Stage, ...] = (
    Stage("parse", ("pages",), parse_stage),
    Stage("docs", ("parse",), docs_stage),
    Stage("doc_roots", ("docs",), lambda o, docs: has_parent_edges(docs)),
    Stage("appears_in", ("parse",), lambda o, p: appears_in_from_parsed(p)),
    Stage("emails", ("parse",), lambda o, p: email_edges_from_parsed(p)),
    Stage("entities", ("parse",), entities_stage),
)


def build_graph(
    pages: DataFrame,
    project: str = "test_project",
    use_rule_ner: bool = False,
    checkpoint_dir: str | None = None,
) -> GraphBuild:
    """Lazy runner over ``STAGES``.

    With ``checkpoint_dir`` the parse output lands in columnar parquet
    and every consumer does a pruned scan instead of re-running the
    Python parse: scale-correct (no JVM object cache) and GC-friendly
    — in-memory caching of nested rows is allocation-bound and
    anti-scales past ~8 threads (measured)."""
    o = BuildOptions(project, use_rule_ner)
    frames = {"pages": pages}
    for st in STAGES:
        df = st.fn(o, *(frames[i] for i in st.inputs))
        if st.name == "parse" and checkpoint_dir is not None:
            path = f"{checkpoint_dir}/parsed"
            df.write.mode("overwrite").parquet(path)
            df = pages.sparkSession.read.parquet(path)
        frames[st.name] = df
    return GraphBuild(**{f.name: frames[f.name] for f in fields(GraphBuild)})
