"""neo4j-admin bulk CSV export (S6/S7/S9).

Produces the reference's exact file set — docs.csv, doc-roots.csv,
entities.csv, entity-docs.csv, email-docs.csv, each with a separate
*-header.csv, plus metadata.json (Neo4jCSVs shape, reference
neo4j-app/neo4j_app/core/objects.py:93-115), bulk-import.sh, and an
optional tar.gz (reference core/imports.py:319-372,878-909). Byte
format pinned by the reference goldens (tests/core/test_imports.py:500-656).

Two write paths:
  * ``write_csv_distributed`` — the scale path: body lines rendered
    JVM-side (functions/csvfmt.py) and written as a text directory;
    neo4j-admin accepts multiple CSV parts per node/rel type, so
    metadata.json just lists every part.
  * ``export_graph_csvs`` — single-file packaging used by tests and
    small exports; streams partitions through ``toLocalIterator`` (no
    full collect on the driver).
"""

from __future__ import annotations

import json
import tarfile
from functools import partial
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import (
    DOC_NODE,
    DOC_ROOT_TYPE,
    DOC_ROOTS_HEADER,
    DOCS_HEADER,
    EMAIL_DOCS_HEADER,
    ENTITIES_HEADER,
    ENTITY_DOCS_HEADER,
    NE_APPEARS_IN_DOC,
    NE_NODE,
    NEO4J_ARRAY_SPLIT_CHAR,
)
from ..functions.csvfmt import neo4j_csv_line, neo4j_header_line


def _arr(col: str) -> F.Column:
    return F.array_join(F.col(col), NEO4J_ARRAY_SPLIT_CHAR)


def doc_nodes_csv_lines(docs: DataFrame) -> DataFrame:
    """Body rows for docs.csv.

    Bug-compat note: the reference's bulk-CSV mapping SWAPS
    createdAt/modifiedAt — ``_doc_nodes_header_and_mapping`` maps
    DOC_CREATED_AT under the ``modifiedAt:DATETIME`` header and vice
    versa (reference core/imports.py:383-387; its Cypher MERGE path,
    core/neo4j/documents.py:61-64, does NOT swap). Its goldens mask
    this by using identical timestamps. We mirror the swap so exports
    are byte-identical to real reference exports; asserted by
    tests/test_csvfmt.py::test_doc_csv_created_modified_swap."""
    cols = [
        F.col("id"),
        F.col("dirname"),
        F.col("contentType"),
        F.col("contentLength"),
        F.col("extractionDate"),
        F.col("extractionLevel"),
        F.col("path"),
        F.col("title"),
        F.col("urlSuffix"),
        F.col("modifiedAt"),  # under the createdAt:DATETIME header
        F.col("createdAt"),  # under the modifiedAt:DATETIME header
        F.lit(DOC_NODE),
    ]
    return docs.select(neo4j_csv_line(cols).alias("line"))


def doc_roots_csv_lines(edges: DataFrame) -> DataFrame:
    return edges.select(neo4j_csv_line([F.col("src"), F.col("dst")]).alias("line"))


def entities_csv_lines(entities: DataFrame) -> DataFrame:
    return entities.select(
        neo4j_csv_line(
            [F.col("entityId"), F.col("mentionNorm"), F.col("label")]
        ).alias("line")
    )


def entity_docs_csv_lines(appears_in: DataFrame) -> DataFrame:
    cols = [
        _arr("mentionExtractors"),
        F.col("extractorLanguage"),
        _arr("mentionIds"),
        _arr("offsets"),
        F.col("startId"),
        F.col("endId"),
        F.col("type"),
    ]
    return appears_in.select(neo4j_csv_line(cols).alias("line"))


def email_docs_csv_lines(email_edges: DataFrame) -> DataFrame:
    cols = [
        _arr("fields"),
        F.col("startId"),
        F.col("endId"),
        F.col("type"),
    ]
    return email_edges.select(neo4j_csv_line(cols).alias("line"))


def _csv_specs(docs, doc_roots, entities, appears_in, emails) -> list:
    """(file name, header, body lines) for the five export files."""
    return [
        ("docs", DOCS_HEADER, doc_nodes_csv_lines(docs)),
        ("doc-roots", DOC_ROOTS_HEADER, doc_roots_csv_lines(doc_roots)),
        ("entities", ENTITIES_HEADER, entities_csv_lines(entities)),
        ("entity-docs", ENTITY_DOCS_HEADER, entity_docs_csv_lines(appears_in)),
        ("email-docs", EMAIL_DOCS_HEADER, email_docs_csv_lines(emails)),
    ]


def _metadata(
    db: str, paths: dict[str, list[str]], counts: dict[str, int]
) -> dict:
    """metadata.json (the reference's Neo4jCSVs shape): node and
    relationship entries listing each file's header, body parts and
    record count."""
    nodes = [("docs", [DOC_NODE]), ("entities", [NE_NODE])]
    rels = [
        ("doc-roots", [DOC_ROOT_TYPE]),
        ("entity-docs", [NE_APPEARS_IN_DOC]),
        ("email-docs", []),
    ]
    return {
        "db": db,
        "nodes": [
            {
                "labels": labels,
                "headerPath": f"{name}-header.csv",
                "nodePaths": paths[name],
                "nNodes": counts[name],
            }
            for name, labels in nodes
        ],
        "relationships": [
            {
                "types": types,
                "headerPath": f"{name}-header.csv",
                "relationshipPaths": paths[name],
                "nRelationships": counts[name],
            }
            for name, types in rels
        ],
    }


def write_csv_distributed(lines: DataFrame, path: str) -> None:
    """Scale path: one text part per partition, no driver bottleneck."""
    lines.write.mode("overwrite").text(path)


def _write_single(lines: DataFrame, path: Path) -> int:
    n = 0
    it = lines.sort("line").toLocalIterator()
    with path.open("w", newline="", encoding="utf-8") as f:
        for row in it:
            f.write(row["line"])
            f.write("\n")
            n += 1
    return n


def export_graph_csvs(
    *,
    docs: DataFrame,
    doc_roots: DataFrame,
    entities: DataFrame,
    appears_in: DataFrame,
    emails: DataFrame,
    export_dir: str | Path,
    db: str = "neo4j",
    as_tar: bool = False,
) -> dict:
    """Write the full reference-compatible export package."""
    d = Path(export_dir)
    d.mkdir(parents=True, exist_ok=True)
    counts = {}
    for name, header, lines in _csv_specs(
        docs, doc_roots, entities, appears_in, emails
    ):
        (d / f"{name}-header.csv").write_text(neo4j_header_line(header))
        counts[name] = _write_single(lines, d / f"{name}.csv")
    metadata = _metadata(db, {name: [f"{name}.csv"] for name in counts}, counts)
    (d / "metadata.json").write_text(json.dumps(metadata, indent=2))
    _write_bulk_import_script(d)
    if as_tar:
        tar_path = d / "neo4j-export.tar.gz"
        with tarfile.open(tar_path, "w:gz") as tf:
            for p in sorted(d.iterdir()):
                if p.name != tar_path.name:
                    tf.add(p, arcname=p.name)
        # reference destroys only node/relationship BODY csvs as they
        # are compressed; header files stay on disk (and are also added
        # to the tar) — imports.py:893-909
        for p in d.iterdir():
            if p.suffix == ".csv" and not p.name.endswith("-header.csv"):
                p.unlink()
        metadata["tarPath"] = str(tar_path)
    return metadata


def export_graph_csvs_distributed(
    *,
    docs: DataFrame,
    doc_roots: DataFrame,
    entities: DataFrame,
    appears_in: DataFrame,
    emails: DataFrame,
    export_dir: str | Path,
    db: str = "neo4j",
) -> dict:
    """Scale-path export: every table written as a text DIRECTORY of
    part files by the executors (no driver bottleneck), packaged into
    a metadata.json whose nodePaths/relationshipPaths list every part —
    the reference's Neo4jCSVs shape allows multiple paths per type
    (core/objects.py:93-115) and neo4j-admin consumes them comma-joined
    (scripts/bulk-import.sh contract). The five files are written
    concurrently, each counted by an ``Observation`` on its one write:
    it counts RECORDS, not lines (a quoted field with an embedded
    newline spans two physical lines, so a read.text re-scan would
    overcount)."""
    from pyspark.sql import Observation

    from ..manifest import run_concurrently

    d = Path(export_dir)
    d.mkdir(parents=True, exist_ok=True)

    def export(name: str, header: str, lines: DataFrame) -> int:
        (d / f"{name}-header.csv").write_text(neo4j_header_line(header))
        obs = Observation()
        write_csv_distributed(
            lines.observe(obs, F.count(F.lit(1)).alias("n")), str(d / name)
        )
        return obs.get["n"]

    specs = _csv_specs(docs, doc_roots, entities, appears_in, emails)
    counts = run_concurrently(
        docs.sparkSession, {spec[0]: partial(export, *spec) for spec in specs}
    )
    parts = {
        name: sorted(
            f"{name}/{p.name}"
            for p in (d / name).iterdir()
            if p.name.startswith("part-")
        )
        for name in counts
    }
    metadata = _metadata(db, parts, counts)
    (d / "metadata.json").write_text(json.dumps(metadata, indent=2))
    _write_bulk_import_script(d)
    return metadata


def _write_bulk_import_script(d: Path) -> None:
    """Emit a bulk-import launcher consuming metadata.json (same
    contract as the reference's scripts/bulk-import.sh: jq-parsed
    nodes/relationships → neo4j-admin database import full)."""
    script = r"""#!/usr/bin/env bash
# Consumes ./metadata.json and launches neo4j-admin bulk import.
set -euo pipefail
ROOT_DIR="$(cd "$(dirname "${BASH_SOURCE[0]}")" >/dev/null && pwd)"
command -v jq >/dev/null || { echo "jq is not installed"; exit 1; }
[[ -n "${NEO4J_HOME:-}" ]] || { echo "NEO4J_HOME is not defined"; exit 1; }
NODES=$(jq -r '.nodes[] | "\(if .labels | length > 0 then .labels | join("|") + "=" else "" end)\"\(.headerPath),\(.nodePaths | join(","))\""' "$ROOT_DIR"/metadata.json)
RELS=$(jq -r '.relationships[] | "\(if .types | length > 0 then .types | join("|") + "=" else "" end)\"\(.headerPath),\(.relationshipPaths | join(","))\""' "$ROOT_DIR"/metadata.json)
DB=$(jq -r '.db' "$ROOT_DIR"/metadata.json)
CMD="$NEO4J_HOME/bin/neo4j-admin database import full --array-delimiter=\"|\" --skip-bad-relationships"
for n in $NODES; do CMD+=" --nodes=$n"; done
for r in $RELS; do CMD+=" --relationships=$r"; done
CMD+=" $DB"
if [[ "${1:-}" == "--dry-run" ]]; then echo "$CMD"; else eval "$CMD"; fi
"""
    p = d / "bulk-import.sh"
    p.write_text(script)
    p.chmod(0o755)
