"""neo4j-admin bulk CSV export (S6/S7/S9).

Produces the reference's exact file set — docs.csv, doc-roots.csv,
entities.csv, entity-docs.csv, email-docs.csv, each with a separate
*-header.csv, plus metadata.json (Neo4jCSVs shape, reference
neo4j-app/neo4j_app/core/objects.py:93-115), bulk-import.sh, and an
optional tar.gz (reference core/imports.py:319-372,878-909). Byte
format pinned by the reference goldens (tests/core/test_imports.py:500-656).

One writer, two packagings. Every body file is rendered JVM-side
(functions/csvfmt.py) and written by the executors as a text
directory of parts (``write_csv_distributed``), the five files
concurrently, each counted on its one write. The packaging differs:
  * ``export_graph_csvs_distributed`` keeps the part directories;
    neo4j-admin accepts multiple CSV parts per node/rel type, so
    metadata.json lists every part;
  * ``export_graph_csvs`` (optionally as a tar) byte-concatenates each
    directory's parts, in part-name order, into ``<name>.csv``.
Bodies are not sorted: the reference does not sort them either.
"""

from __future__ import annotations

import json
import shutil
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
from ..observe import observed_write


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


def _write_metadata(
    d: Path, db: str, paths: dict[str, list[str]], counts: dict[str, int]
) -> dict:
    """metadata.json (the reference's Neo4jCSVs shape): node and
    relationship entries listing each file's header, body paths and
    record count; written next to the bulk-import.sh that reads it."""
    nodes = [("docs", [DOC_NODE]), ("entities", [NE_NODE])]
    rels = [
        ("doc-roots", [DOC_ROOT_TYPE]),
        ("entity-docs", [NE_APPEARS_IN_DOC]),
        ("email-docs", []),
    ]
    metadata = {
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
    (d / "metadata.json").write_text(json.dumps(metadata, indent=2))
    _write_bulk_import_script(d)
    return metadata


def write_csv_distributed(lines: DataFrame, path: str) -> int:
    """Write body lines as a text directory, one part per partition,
    no driver bottleneck. Returns the RECORDS written, observed on the
    write: a quoted field with an embedded newline spans two physical
    lines, so a re-scan of the text would overcount."""
    return observed_write(
        lines,
        lambda df: df.write.mode("overwrite").text(path),
        n=F.count(F.lit(1)),
    )["n"]


def _write_bodies(d: Path, *tables: DataFrame) -> dict[str, int]:
    """The five files' headers and body directories ``d/<name>``, the
    bodies written concurrently. Returns name → record count."""
    from ..manifest import run_concurrently

    d.mkdir(parents=True, exist_ok=True)

    def export(name: str, header: str, lines: DataFrame) -> int:
        (d / f"{name}-header.csv").write_text(neo4j_header_line(header))
        return write_csv_distributed(lines, str(d / name))

    return run_concurrently(
        tables[0].sparkSession,
        {spec[0]: partial(export, *spec) for spec in _csv_specs(*tables)},
    )


def _parts(d: Path, name: str) -> list[str]:
    """The body parts of ``d/<name>``, relative to ``d``, in name order."""
    return sorted(
        f"{name}/{p.name}" for p in (d / name).iterdir() if p.name.startswith("part-")
    )


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
    """Write the full reference-compatible export package, one
    ``<name>.csv`` per body: the executors write its parts, which are
    then concatenated in part-name order."""
    d = Path(export_dir)
    counts = _write_bodies(d, docs, doc_roots, entities, appears_in, emails)
    for name in counts:
        with (d / f"{name}.csv").open("wb") as out:
            for part in _parts(d, name):
                with (d / part).open("rb") as f:
                    shutil.copyfileobj(f, out)
        shutil.rmtree(d / name)
    metadata = _write_metadata(
        d, db, {name: [f"{name}.csv"] for name in counts}, counts
    )
    if as_tar:
        tar_path = d / "neo4j-export.tar.gz"
        with tarfile.open(tar_path, "w:gz") as tf:
            for p in sorted(d.iterdir()):
                if p.name != tar_path.name:
                    tf.add(p, arcname=p.name)
        # reference destroys only node/relationship BODY csvs as they
        # are compressed; header files stay on disk (and are also added
        # to the tar) — imports.py:893-909
        for name in counts:
            (d / f"{name}.csv").unlink()
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
    """Scale-path export: every body kept as its text DIRECTORY of
    part files, packaged into a metadata.json whose
    nodePaths/relationshipPaths list every part — the reference's
    Neo4jCSVs shape allows multiple paths per type
    (core/objects.py:93-115) and neo4j-admin consumes them comma-joined
    (scripts/bulk-import.sh contract)."""
    d = Path(export_dir)
    counts = _write_bodies(d, docs, doc_roots, entities, appears_in, emails)
    return _write_metadata(
        d, db, {name: _parts(d, name) for name in counts}, counts
    )


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
