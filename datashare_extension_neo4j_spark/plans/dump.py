"""Graph dump serializers (S10): GraphML and cypher-shell text.

Matches the reference's apoc-based dump shapes
(neo4j-app/neo4j_app/core/neo4j/graphs.py:54-135; structure pinned by
tests/core/neo4j/test_graphs.py:59-155): GraphML with <key> decls per
observed property (+ node ``labels``, edge ``label``/``TYPE``), nodes
carrying ``labels`` data, edges carrying source/target/label; cypher
dump as :begin/CREATE/:commit batches.

The writers read each side's rows once; the caller passes ``collect()``
(a bounded dump, one job) or ``toLocalIterator()`` (an unbounded one).
The GraphML header declares every property key, known only after the
last element, so the element lines are spooled to a temporary file (in
memory up to ``_SPOOL_MAX`` characters, on disk past it) while the key
sets gather, then copied after the header. (A dump is a human-sized
export, capped by the 10k default limit — not a bulk path.)
"""

from __future__ import annotations

import shutil
import tempfile
from typing import Iterable, TextIO
from xml.sax.saxutils import escape, quoteattr

from pyspark.sql import Row

_GRAPHML_OPEN = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<graphml xmlns="http://graphml.graphdrawing.org/xmlns"'
    ' xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"'
    ' xsi:schemaLocation="http://graphml.graphdrawing.org/xmlns'
    ' http://graphml.graphdrawing.org/xmlns/1.0/graphml.xsd">\n'
)
_SPOOL_MAX = 16 << 20  # body characters kept in memory before spilling


def _graphml_data(props: dict | None, keys: set[str]) -> str:
    """An element's <data> elements; adds every key of ``props`` to
    ``keys``, null-valued ones included."""
    keys.update(props or ())
    return "".join(
        f"<data key={quoteattr(k)}>{escape(str(v))}</data>"
        for k, v in sorted((props or {}).items())
        if v is not None
    )


def dump_graphml(nodes: Iterable[Row], edges: Iterable[Row], out: TextIO) -> int:
    """Write GraphML; returns element count."""
    keys: dict[str, set[str]] = {"node": set(), "edge": set()}
    n = 0
    with tempfile.SpooledTemporaryFile(_SPOOL_MAX, "w+", encoding="utf-8") as body:
        for row in nodes:
            labels = ":" + ":".join(row["labels"])
            body.write(
                f'<node id={quoteattr(str(row["node_id"]))} labels={quoteattr(labels)}>'
                f'<data key="labels">{escape(labels)}</data>'
                f'{_graphml_data(row["props"], keys["node"])}</node>\n'
            )
            n += 1
        for i, row in enumerate(edges):
            body.write(
                f'<edge id="e{i}" source={quoteattr(str(row["src"]))}'
                f' target={quoteattr(str(row["dst"]))} label={quoteattr(row["type"])}>'
                f'<data key="label">{escape(row["type"])}</data>'
                f'{_graphml_data(row["props"], keys["edge"])}</edge>\n'
            )
            n += 1
        out.write(_GRAPHML_OPEN)
        fixed = {"node": ["TYPE", "labels"], "edge": ["label", "TYPE"]}
        for kind in ("node", "edge"):
            # keys derive from page metadata (attacker-controlled) — quote
            for k in sorted(keys[kind]) + fixed[kind]:
                out.write(f'<key id={quoteattr(k)} for="{kind}" attr.name={quoteattr(k)}/>\n')
        out.write('<graph id="G" edgedefault="directed">\n')
        body.seek(0)
        shutil.copyfileobj(body, out)
    out.write("</graph>\n</graphml>\n")
    return n


def _cy_str(v) -> str:
    """Single-quoted Cypher string literal with escaping."""
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _cy_ident(name: str) -> str:
    """Backtick-quoted identifier (labels, rel types, property keys) —
    ids/labels derive from page urls and entity text, so they can carry
    any character."""
    return "`" + str(name).replace("`", "``") + "`"


def _cypher_props(props: dict | None, extra: dict | None = None) -> str:
    items = dict(extra or {})
    items.update({k: v for k, v in (props or {}).items() if v is not None})
    if not items:
        return ""
    body = ", ".join(
        f"{_cy_ident(k)}: {_cy_str(v)}" for k, v in sorted(items.items())
    )
    return " {" + body + "}"


def dump_cypher(
    nodes: Iterable[Row], edges: Iterable[Row], out: TextIO, batch_size: int = 1000
) -> int:
    """cypher-shell format: :begin / CREATE …; / :commit batches
    (export batch default 1000, reference config.py:67)."""

    def batches(it: Iterable[str]) -> int:
        count = 0
        buf: list[str] = []
        for stmt in it:
            buf.append(stmt)
            if len(buf) >= batch_size:
                out.write(":begin\n" + "\n".join(buf) + "\n:commit\n")
                count += len(buf)
                buf = []
        if buf:
            out.write(":begin\n" + "\n".join(buf) + "\n:commit\n")
            count += len(buf)
        return count

    def node_stmts():
        for row in nodes:
            labels = ":".join(_cy_ident(l) for l in row["labels"])
            props = _cypher_props(row["props"], {"_id": row["node_id"]})
            yield f"CREATE (:{labels}{props});"

    def edge_stmts():
        # node ids default to page urls — apostrophes/backslashes are
        # legal there, so interpolation must escape like any value
        for row in edges:
            props = _cypher_props(row["props"])
            yield (
                "MATCH (a {_id:%s}), (b {_id:%s}) CREATE (a)-[:%s%s]->(b);"
                % (
                    _cy_str(row["src"]),
                    _cy_str(row["dst"]),
                    _cy_ident(row["type"]),
                    props,
                )
            )

    n = batches(node_stmts())
    n += batches(edge_stmts())
    return n
