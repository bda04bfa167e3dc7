"""Graph-query DSL compiler (SURVEY.md §2.8).

The reference compiles a JSON query algebra to Cypher via cypher-dsl
(src/main/java/org/icij/datashare/Neo4jUtils.java:102-268 — Query,
PathPattern, PatternNode, PatternRelationship, Where trees,
SortByProperty, limit capping; fixtures under
src/test/resources/neo4j_utils/*.json). We compile the same JSON to a
DataFrame plan over the nodes/edges tables:

  * PatternNode{name, labels, properties} → filtered nodes scan,
    bound as a struct column named after the variable
  * PathPattern (linear) → chain of equi-joins through the edges
    table; direction from/to/between (Neo4jUtils.java:369-426,786-809;
    ``between`` = union of both orientations)
  * multiple matches → natural join on shared variable names;
    optional → left outer join (OPTIONAL MATCH)
  * Where{and,or,not,isEqualTo,startsWith,endsWith} → Column tree
    (Neo4jUtils.java:52-89,607-783)
  * orderBy / limit: limit = min(user, default)
    (Neo4jUtils.java:236-244)

Catalyst owns everything downstream: the label/property filters push
into the nodes scan, join order is cost-based, the final limit is a
CollectLimit.

compile_dump_query runs one job, bounded by ``limit``: it collects the
query's distinct doc ids to the driver; the subgraph around them is one
edge filter and one broadcast node semi-join, with no shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_LIMIT = 10_000  # neo4jAppMaxDumpedDocuments (Neo4jResource.java:115-118)


class DSLError(ValueError):
    pass


@dataclass
class GraphTables:
    """nodes(node_id, labels: array<string>, props: map<string,string>)
    edges(src, dst, type, props: map<string,string>)"""

    nodes: DataFrame
    edges: DataFrame


def _node_struct(df: DataFrame, var: str) -> DataFrame:
    return df.select(
        F.struct(
            F.col("node_id"), F.col("labels"), F.col("props")
        ).alias(var)
    )


def _match_node(
    g: GraphTables, spec: dict, anon: str | None = None
) -> tuple[str, DataFrame]:
    """Filtered node scan bound to the pattern variable. Anonymous
    nodes (reference fixture path_pattern_without_names_and_types →
    ``MATCH ()-->()``) get an internal ``_anon*`` name that
    compile_query drops from the output (Cypher's RETURN * only
    returns named variables)."""
    var = spec.get("name") or anon
    if not var:
        raise DSLError("pattern node must be named")
    df = g.nodes
    for label in spec.get("labels") or []:
        df = df.where(F.array_contains(F.col("labels"), label))
    for k, v in (spec.get("properties") or {}).items():
        df = df.where(F.col("props").getItem(k) == F.lit(v))
    return var, _node_struct(df, var)


def _edge_filtered(g: GraphTables, rel: dict) -> DataFrame:
    df = g.edges
    types = rel.get("types") or []
    if types:
        df = df.where(F.col("type").isin(*types))
    return df


def _compile_path(
    g: GraphTables,
    path: dict,
    hidden: set[str],
    user_names: frozenset[str] = frozenset(),
) -> tuple[DataFrame, bool]:
    """``hidden`` collects the generated names of anonymous pattern
    parts (nodes/rels without a user name) — compile_query drops
    exactly those columns at the end (Cypher's RETURN * only returns
    named variables). Generated names are checked against every
    user-chosen name in the query, so a user variable that happens to
    look like ``_anon0`` is never dropped."""
    nodes = path.get("nodes") or []
    rels = path.get("relationships") or []
    if not nodes:
        raise DSLError("path must have at least one node")
    if len(rels) != len(nodes) - 1:
        # message mirrors Neo4jUtils.java:443-458 (verbatim-fixture
        # parity: tests replay path_pattern_with_*_relationships.json)
        raise DSLError(
            "Invalid number of nodes and relationships, found"
            f" {len(nodes)} nodes and {len(rels)} relationships"
        )

    def gen(base: str) -> str:
        name = base
        while name in user_names or name in hidden:
            name = "_" + name
        hidden.add(name)
        return name

    def _bound_conditions(var: str, spec: dict) -> list[Column]:
        """Node-spec filters re-expressed over an ALREADY-bound struct
        (cycle patterns: (a)-->(b)-->(a) re-uses variable a)."""
        conds = [
            F.array_contains(F.col(f"{var}.labels"), label)
            for label in (spec.get("labels") or [])
        ]
        conds += [
            F.col(f"{var}.props").getItem(k) == F.lit(v)
            for k, v in (spec.get("properties") or {}).items()
        ]
        return conds

    var0, df = _match_node(
        g, nodes[0], anon=None if nodes[0].get("name") else gen("_anon0")
    )
    bound = [var0]
    for i, rel in enumerate(rels):
        nspec = nodes[i + 1]
        nvar_user = nspec.get("name")
        cycle = nvar_user is not None and nvar_user in bound
        if cycle:
            nvar, ndf = nvar_user, None
        else:
            nvar, ndf = _match_node(
                g, nspec, anon=None if nvar_user else gen(f"_anon{i + 1}")
            )
        rel_var = rel.get("name") or gen(f"_rel{i}")
        direction = rel.get("direction", "between")
        e = _edge_filtered(g, rel)
        estruct = F.struct(
            F.col("src"), F.col("dst"), F.col("type"), F.col("props")
        ).alias(rel_var)
        # reference semantics (Neo4jUtils.java:793-804, cypher-dsl):
        # TO   = (left)-[rel]->(right)  — edge src is the LEFT node
        # FROM = (left)<-[rel]-(right)  — edge src is the RIGHT node
        # (verbatim fixtures: path_pattern_from.json compiles to
        #  MATCH (doc)<-[rel:`APPEARS_IN`]-(person))
        if direction == "to":
            e = e.select(estruct, F.col("src").alias("_a"), F.col("dst").alias("_b"))
        elif direction == "from":
            e = e.select(estruct, F.col("dst").alias("_a"), F.col("src").alias("_b"))
        elif direction == "between":
            e1 = e.select(
                estruct, F.col("src").alias("_a"), F.col("dst").alias("_b")
            )
            e2 = e.select(
                estruct, F.col("dst").alias("_a"), F.col("src").alias("_b")
            )
            e = e1.unionByName(e2)
        else:
            raise DSLError(f"unknown direction: {direction}")
        if cycle:
            # repeated variable: constrain the edge end to the node
            # already bound under that name (no second scan/column)
            df = (
                df.join(e, F.col(f"{bound[-1]}.node_id") == F.col("_a"))
                .where(F.col("_b") == F.col(f"{nvar}.node_id"))
                .drop("_a", "_b")
            )
            for cond in _bound_conditions(nvar, nspec):
                df = df.where(cond)
            # bound[-1] must stay the current right-hand node var for
            # the next hop's join (nvar repeats, which is harmless for
            # the membership check)
            bound.extend([rel_var, nvar])
        else:
            df = (
                df.join(e, F.col(f"{bound[-1]}.node_id") == F.col("_a"))
                .join(ndf, F.col("_b") == F.col(f"{nvar}.node_id"))
                .drop("_a", "_b")
            )
            bound.extend([rel_var, nvar])
    return df, bool(path.get("optional", False))


def _compile_where(w: dict) -> Column:
    if len(w) != 1:
        raise DSLError(f"where node must have exactly one key: {w}")
    (op, body), = w.items()
    if op == "and":
        col = F.lit(True)
        for sub in body:
            col = col & _compile_where(sub)
        return col
    if op == "or":
        col = F.lit(False)
        for sub in body:
            col = col | _compile_where(sub)
        return col
    if op == "not":
        return ~_compile_where(body["value"])
    if op in ("isEqualTo", "startsWith", "endsWith"):
        prop = body["property"]
        lhs = F.col(f"{prop['variable']}.props").getItem(prop["name"])
        val = body["value"]
        if "literal" in val:
            rhs: Column | str = F.lit(val["literal"])
        else:
            rhs = F.col(f"{val['variable']}.props").getItem(val["name"])
        if op == "isEqualTo":
            return lhs == rhs
        if op == "startsWith":
            return lhs.startswith(rhs)
        return lhs.endswith(rhs)
    raise DSLError(f"unknown where operator: {op}")


def compile_query(
    g: GraphTables, query: dict, default_limit: int = DEFAULT_LIMIT
) -> DataFrame:
    """Query{matches, where, orderBy, limit} → DataFrame with one
    struct column per bound variable."""
    # reference error messages, Neo4jUtils.java:119-121
    matches = query.get("matches")
    if matches is None:
        raise DSLError("missing matches")
    if not matches:
        raise DSLError("empty matches")
    hidden: set[str] = set()
    user_names = frozenset(
        spec.get("name")
        for m in matches
        for spec in (
            (m.get("path", {}).get("nodes") or [])
            + (m.get("path", {}).get("relationships") or [])
        )
        if spec.get("name")
    )
    df: DataFrame | None = None
    for m in matches:
        pdf, optional = _compile_path(g, m["path"], hidden, user_names)
        if df is None:
            if optional:
                # leading OPTIONAL MATCH (fixture query_optional_match
                # → "OPTIONAL MATCH (person:`Person`) RETURN *"): all
                # matches, or ONE all-null row when there are none —
                # a single-row dummy left-joined on TRUE
                dummy = pdf.sparkSession.range(1).select(
                    F.lit(1).alias("_one")
                )
                df = dummy.join(pdf, F.lit(True), "left").drop("_one")
            else:
                df = pdf
        else:
            shared = [c for c in pdf.columns if c in df.columns]
            how = "left" if optional else "inner"
            if shared:
                cond = [
                    F.col(f"l.{c}.node_id") == F.col(f"r.{c}.node_id")
                    for c in shared
                ]
                keep_r = [c for c in pdf.columns if c not in df.columns]
                df = (
                    df.alias("l")
                    .join(pdf.alias("r"), cond, how)
                    .select(
                        *[F.col(f"l.{c}").alias(c) for c in df.columns],
                        *[F.col(f"r.{c}").alias(c) for c in keep_r],
                    )
                )
            else:
                df = df.crossJoin(pdf)
    where = query.get("where")
    if where:
        df = df.where(_compile_where(where))
    # all keys in ONE orderBy — successive .orderBy() calls each replace
    # the previous global sort, keeping only the last key (the reference
    # applies the whole OrderBy list in a single statement,
    # Neo4jUtils.java:236-244)
    sort_cols = []
    for ob in query.get("orderBy") or []:
        prop = F.col(f"{ob['property']['variable']}.props").getItem(
            ob["property"]["name"]
        )
        sort_cols.append(
            prop.desc() if ob.get("direction", "asc").lower() == "desc" else prop.asc()
        )
    if sort_cols:
        df = df.orderBy(*sort_cols)
    limit = query.get("limit")
    eff = min(limit, default_limit) if limit is not None else default_limit
    df = df.limit(eff)
    # anonymous pattern parts are traversed but not returned (RETURN *).
    # An ALL-anonymous pattern (MATCH ()-->()) deliberately yields a
    # zero-column row per traversal match: the reference's own fixture
    # (Neo4jUtilsTest.java:297, replayed verbatim in
    # tests/test_dsl_fixtures.py) compiles it and uses the row count —
    # raising here would break reference parity.
    named = [c for c in df.columns if c not in hidden]
    return df.select(*named) if len(named) < len(df.columns) else df


DUMP_EDGE_TYPES = ["APPEARS_IN", "SENT", "RECEIVED"]


def _sql_string(v: str) -> str:
    """A Spark SQL string literal. The dump's ids go into one parsed
    expression: ``Column.isin`` makes one gateway call per value
    (seconds at the 10k default limit)."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def compile_dump_query(
    g: GraphTables,
    dump: dict | None,
    default_limit: int = DEFAULT_LIMIT,
) -> tuple[DataFrame, DataFrame]:
    """DumpQuery semantics (Objects.java:74-142 + graphs.py:40-51):
    exactly one user query (or the default doc query ordered by path),
    auto-extended with the optional match
    (doc)-[rel:APPEARS_IN|SENT|RECEIVED]-(ne:NamedEntity); returns the
    (nodes, edges) DataFrames of the subgraph, each row once. Runs one
    job, for the ≤ ``limit`` doc ids; the frames it returns hold them as
    literals and never re-run the query (no job at all if none matched)."""
    queries = (dump or {}).get("queries") or []
    if len(queries) > 1:
        # reference message, Objects.java DumpQuery.asValidated
        raise DSLError("expected a single query matching documents to be specified")
    if queries:
        q = dict(queries[0])
        if q.get("matches") is None:
            raise DSLError("missing matches")
        if not q["matches"]:
            raise DSLError("empty matches")
    else:
        # default: MATCH (doc:Document) ORDER BY doc.path ASC LIMIT k
        q = {
            "matches": [
                {"path": {"nodes": [{"name": "doc", "labels": ["Document"]}]}}
            ],
            "orderBy": [
                {"property": {"variable": "doc", "name": "path"}, "direction": "asc"}
            ],
        }
    first_nodes = q["matches"][0].get("path", {}).get("nodes") or [{}]
    doc_var = first_nodes[0].get("name")
    if not doc_var:
        # the dump pivots on the first bound variable — an anonymous
        # first node has nothing to attach entities to
        raise DSLError("dump query's first node must be named")
    docs = compile_query(g, q, default_limit=default_limit)
    ids = docs.select(F.col(f"{doc_var}.node_id")).distinct().collect()
    # a leading OPTIONAL MATCH that matched nothing gives a null id
    lits = ", ".join(_sql_string(r[0]) for r in ids if r[0] is not None)
    if not lits:
        return g.nodes.limit(0), g.edges.limit(0)
    # one filter, no join: an edge between two dumped docs passes once,
    # and the stored edges are unique on (src, dst, type)
    # (sinks.tables.TABLE_KEYS), so nothing needs a dedup or a shuffle
    edges = g.edges.where(
        F.col("type").isin(*DUMP_EDGE_TYPES)
        & F.expr(f"src IN ({lits}) OR dst IN ({lits})")
    )
    # the docs and their edges' endpoints, broadcast to one semi join,
    # which keeps each node once
    keep = g.nodes.sparkSession.range(1).select(
        F.expr(f"explode(array({lits}))").alias("node_id")
    ).unionByName(edges.select(F.explode(F.array("src", "dst")).alias("node_id")))
    return g.nodes.join(F.broadcast(keep), "node_id", "left_semi"), edges
