"""Iterative graph algorithms over edge DataFrames.

``connected_components`` — hash-min label propagation plus pointer
jumping (path halving), re-expressed as DataFrame joins: every node
starts as its own component; each round takes the min label over its
neighborhood (hash-min) and then replaces its label with its label's
label (pointer jump). The jump makes label trees collapse
geometrically, so convergence is O(log diameter) rounds — a 1000-hop
near-dup chain converges in ~10 rounds, the same shape as
large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond"). Driver coordinates the loop (as GraphX/Pregel
drivers do); per-round cost is two key-partitioned joins, and
``localCheckpoint`` truncates the lineage so plans don't grow with
iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoints import Checkpoints, checkpoints


def _symmetrize(ck: Checkpoints, edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected (a, b) edge list — each input edge in both
    directions, deduped, MATERIALIZED (pinned in ``ck``) so iterative
    consumers never re-execute the upstream pipeline per round."""
    return ck.pin(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for the undirected graph of ``edges``;
    component = min node id in the component (deterministic)."""
    # materialize the symmetrized edge list ONCE: ``edges`` may be an
    # arbitrarily expensive upstream pipeline (dedup_minhash_clusters
    # feeds the whole shingle→minhash→band→verify LSH dedup here), and
    # every loop round below joins against ``sym`` twice plus a
    # convergence count — without this checkpoint each of the
    # O(log diameter) rounds would re-execute the full upstream plan.
    with checkpoints(edges.sparkSession) as ck:
        sym = _symmetrize(ck, edges, src, dst)
        comp = ck.pin(
            sym.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("comp", F.col("node"))
        )
        for _ in range(max_iter):
            nbr_min = (
                sym.join(comp, sym.b == comp.node)
                .groupBy("a")
                .agg(F.min("comp").alias("nbr_comp"))
            )
            stepped = comp.join(nbr_min, comp.node == nbr_min.a, "left").select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
            )
            # pointer jump (path halving): label ← label's label. Collapses
            # label chains geometrically → O(log diameter) total rounds.
            lbl = stepped.select(
                F.col("node").alias("_lnode"), F.col("comp").alias("_lcomp")
            )
            # truncate lineage each round; the PRIOR round's checkpoint
            # is released right after the convergence check (the last
            # consumer of the old frame) — storage stays O(1) in rounds
            old, comp = comp, ck.pin(
                stepped.join(lbl, stepped.comp == lbl._lnode, "left").select(
                    "node",
                    F.least(
                        F.col("comp"), F.coalesce("_lcomp", F.col("comp"))
                    ).alias("comp"),
                )
            )
            changed = (
                comp.alias("n")
                .join(old.alias("o"), "node")
                .where(F.col("n.comp") != F.col("o.comp"))
                .count()
            )
            ck.release(old)
            if changed == 0:
                return ck.keep(comp)
        # exhausting the bound without convergence means labels are WRONG
        # (hash-min moves the min one hop per round; diameter > max_iter
        # leaves tail nodes mislabeled) — fail loudly, never return them
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds the bound); raise max_iter or use a "
            "round-doubling variant (large-star/small-star) for "
            "long-chain graphs"
        )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    digits: int = 8,
) -> DataFrame:
    """Fixed-iteration PageRank over the UNDIRECTED graph of ``edges``
    (each edge contributes both directions), uniform 1.0 start,
    r' = (1-d) + d·Σ r/deg over in-neighbors — the classic
    unnormalized formulation (Page et al.; GraphX's default shape).

    Deterministic across engines: every iteration's ranks are ROUNDED
    to ``digits`` decimals, so an exact SQL oracle can unroll the same
    ``iterations`` steps and hash-match — float summation-order noise
    (~1e-13) cannot cross a 0.5e-8 rounding boundary in practice.

    Scale shape: per iteration one key-partitioned join (ranks ⋈
    edges on src) + one groupBy(dst) — the same cost profile as the
    CC rounds; edges are checkpointed ONCE, ranks localCheckpointed
    per round so plans don't grow.
    """
    with checkpoints(edges.sparkSession) as ck:
        sym = _symmetrize(ck, edges, src, dst)
        deg = sym.groupBy("a").agg(F.count("*").cast("long").alias("deg"))
        nodes = deg.select(F.col("a").alias("node"), "deg")
        ranks = ck.pin(nodes.select("node", "deg", F.lit(1.0).alias("rank")))
        for _ in range(iterations):
            contrib = (
                ranks.select(F.col("node").alias("a"), (F.col("rank") / F.col("deg")).alias("c"))
                .join(sym, "a")
                .groupBy(F.col("b").alias("node"))
                .agg(F.sum("c").alias("inflow"))
            )
            # the new checkpoint materializes eagerly (it consumed the old
            # ranks), so the old round's blocks can be released at once —
            # executor storage stays at one ranks copy, not `iterations`
            old, ranks = ranks, ck.pin(
                nodes.join(contrib, "node", "left").select(
                    "node",
                    "deg",
                    F.round(
                        F.lit(1.0 - damping)
                        + F.lit(damping) * F.coalesce("inflow", F.lit(0.0)),
                        digits,
                    ).alias("rank"),
                )
            )
            ck.release(old)
        return ck.keep(ranks).select("node", "rank")


def pagerank_directed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 5,
    damping: float = 0.85,
    digits: int = 6,
) -> DataFrame:
    """Fixed-iteration DIRECTED PageRank — the webgraph formulation
    (Page et al.): normalized 1/N start, per-iteration
    r' = (1-d)/N + d·(Σ_in r·w/outw + dangling/N), where ``dangling``
    is the total rank mass sitting on nodes with no out-edges
    (terminal pages), redistributed uniformly. With ``weight`` set,
    contributions are weighted by edge multiplicity (w/outw instead of
    1/outdeg) — the host-graph convention.

    Determinism discipline mirrors :func:`pagerank`: every
    iteration's ranks AND the dangling scalar are rounded to
    ``digits``, so an unrolled-CTE SQL oracle replays the loop
    exactly; float summation-order noise (~1e-13) sits far below the
    0.5·10^-digits boundary.

    Scale shape: per iteration one key-partitioned join (ranks ⋈
    edges on src) + one groupBy(dst) + one 1-row aggregate for the
    dangling mass folded back via crossJoin (no collect). Edge table
    and out-weights are checkpointed once; ranks rotate per round with
    block release, so executor storage holds ONE ranks copy.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    with checkpoints(edges.sparkSession) as ck:
        ew = ck.pin(
            edges.select(F.col(src).alias("s"), F.col(dst).alias("d"), w.alias("w"))
            .groupBy("s", "d")
            .agg(F.sum("w").alias("w"))
        )
        outw = ew.groupBy("s").agg(F.sum("w").alias("outw"))
        nodes = (
            ew.select(F.col("s").alias("node"))
            .unionByName(ew.select(F.col("d").alias("node")))
            .distinct()
            .join(outw.withColumnRenamed("s", "node"), "node", "left")
        )
        n1 = nodes.agg(F.count("*").cast("double").alias("n"))
        nodes = ck.pin(nodes.crossJoin(n1))
        ranks = ck.pin(
            nodes.select(
                "node", "outw", "n", F.round(1.0 / F.col("n"), digits).alias("rank")
            )
        )
        for _ in range(iterations):
            dang = ranks.where(F.col("outw").isNull()).agg(
                F.round(F.coalesce(F.sum("rank"), F.lit(0.0)), digits).alias("dang")
            )
            contrib = (
                ranks.where(F.col("outw").isNotNull())
                .select(F.col("node").alias("s"), (F.col("rank") / F.col("outw")).alias("c"))
                .join(ew, "s")
                .groupBy(F.col("d").alias("node"))
                .agg(F.sum(F.col("c") * F.col("w")).alias("inflow"))
            )
            old, ranks = ranks, ck.pin(
                nodes.join(contrib, "node", "left")
                .crossJoin(dang)
                .select(
                    "node",
                    "outw",
                    "n",
                    F.round(
                        F.lit(1.0 - damping) / F.col("n")
                        + F.lit(damping)
                        * (
                            F.coalesce("inflow", F.lit(0.0))
                            + F.col("dang") / F.col("n")
                        ),
                        digits,
                    ).alias("rank"),
                )
            )
            ck.release(old)
        return ck.keep(ranks).select("node", "rank")


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    digits: int = 6,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg) over the DIRECTED graph of
    distinct ``edges``: authority(v) = Σ hub(in-neighbors),
    hub(u) = Σ authority(out-neighbors), each L1-normalized per
    half-step. The webgraph complement to PageRank — link SOURCES
    score as hubs, link TARGETS as authorities (on a crawl host graph:
    directories vs. content hosts).

    Determinism discipline as the PageRank loops: every normalized
    score AND the normalization scalars are rounded to ``digits`` per
    half-step, so an unrolled-CTE SQL oracle replays the loop exactly.

    Scale shape: two key-partitioned join+groupBy pairs per iteration
    over the (host-scale) edge list, normalization scalars folded back
    via 1-row crossJoin (no collect), per-round checkpoint rotation.
    """
    with checkpoints(edges.sparkSession) as ck:
        e = ck.pin(
            edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
        )
        nodes = ck.pin(
            e.select(F.col("s").alias("node"))
            .unionByName(e.select(F.col("d").alias("node")))
            .distinct()
        )
        state = ck.pin(
            nodes.select(
                "node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
            )
        )
        for _ in range(iterations):
            araw = (
                state.select(F.col("node").alias("s"), "hub")
                .join(e, "s")
                .groupBy(F.col("d").alias("node"))
                .agg(F.sum("hub").alias("araw"))
            )
            a_n = nodes.join(araw, "node", "left").select(
                "node", F.coalesce("araw", F.lit(0.0)).alias("araw")
            )
            asum = a_n.agg(
                F.round(F.sum("araw"), digits).alias("asum")
            )
            a_norm = a_n.crossJoin(asum).select(
                "node", F.round(F.col("araw") / F.col("asum"), digits).alias("authority")
            )
            hraw = (
                a_norm.select(F.col("node").alias("d"), "authority")
                .join(e, "d")
                .groupBy(F.col("s").alias("node"))
                .agg(F.sum("authority").alias("hraw"))
            )
            h_n = nodes.join(hraw, "node", "left").select(
                "node", F.coalesce("hraw", F.lit(0.0)).alias("hraw")
            )
            hsum = h_n.agg(F.round(F.sum("hraw"), digits).alias("hsum"))
            old, state = state, ck.pin(
                h_n.crossJoin(hsum)
                .select(
                    "node",
                    F.round(F.col("hraw") / F.col("hsum"), digits).alias("hub"),
                )
                .join(a_norm, "node")
                .select("node", "hub", "authority")
            )
            ck.release(old)
        return ck.keep(state)
