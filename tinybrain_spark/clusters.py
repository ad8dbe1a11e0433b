"""Connected components over a near-dup candidate graph — the step a
training-data pipeline runs after MinHash/LSH pair generation: candidate
pairs -> duplicate CLUSTERS -> one survivor per cluster.

Algorithm: hash-min label propagation (the standard Spark CC shape,
same propagation rule GraphFrames/GraphX use): every node starts
labeled with itself; each round every node takes the min label among
itself and its neighbors; converged when no label changes.  Rounds =
O(component diameter) — near-dup clusters are dense and shallow, so
this is 2-4 rounds in practice.  Each round is one shuffle join + one
shuffle aggregate on the edge key; labels are persisted and the plan is
cut per round (iterative lineage would otherwise grow unboundedly).

At 10^9 edges the round cost is bounded by the edge-join shuffle; the
classic large-star/small-star optimization halves rounds on adversarial
long-path graphs, which near-dup graphs are not — documented tradeoff.

WHEN TO UPGRADE: hash-min converges in exactly diameter(G) rounds
(pinned by test_clusters.py's path-graph case), so the default
max_iter=25 is a diameter budget.  Near-dup graphs are dense and
shallow (diameter 2-4 observed at sf0.1); a component with diameter
> 25 — a chain of pairwise-similar documents, each neighbor pair just
over the threshold — exhausts the budget and RAISES (below) rather
than silently returning partial labels.  At that point switch to
large-star/small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14), which contracts in O(log^2 n) rounds
on any graph shape at ~2x the per-round shuffle cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import pin


class ConvergenceError(RuntimeError):
    """Label propagation exhausted max_iter without converging."""


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 25,
    strict: bool = True,
) -> DataFrame:
    """edges: (a, b) undirected pairs; nodes: (node) — every vertex,
    including singletons.  Returns (node, label) with label = min node
    id in the component.

    Raises ``ConvergenceError`` if max_iter rounds pass without the
    sum(label) witness stabilizing (strict=False downgrades to a WARN
    log and returns the partial labels): the DuckDB recursive-CTE
    oracle always converges, so silently-unconverged labels would
    surface as an undiagnosable hash mismatch at the driver gate."""
    sym = edges.selectExpr("a AS src", "b AS dst").unionByName(
        edges.selectExpr("b AS src", "a AS dst")
    )
    sym = sym.repartition("src").persist()
    sym.count()

    # pin (not just persist): each round's plan must be CUT,
    # or the iterative lineage grows a tree that eventually OOMs the
    # driver just STRINGIFYING the plan (observed at ~10 rounds on the
    # sf0.1 graph) — the standard Spark iterative-algorithm requirement
    labels = pin(nodes.select(F.col("node"), F.col("node").alias("label")))
    # labels only ever decrease, so sum(label) is a strictly-decreasing
    # convergence witness: one cheap aggregate per round instead of a
    # changed-rows join
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]

    converged = False
    for _ in range(max_iter):
        neighbor = (
            sym.join(labels, sym.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
        )
        new_labels = pin(
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum

    sym.unpersist()
    if not converged:
        msg = (
            f"connected_components did not converge in {max_iter} rounds "
            f"(component diameter exceeds the budget); raise max_iter or "
            f"switch to connected_components_star for long-chain graphs"
        )
        if strict:
            raise ConvergenceError(msg)
        import logging

        logging.getLogger(__name__).warning(msg)
    return labels


def _canonical(e: DataFrame) -> DataFrame:
    """Undirected edges as (u, v) with u > v, self-loops dropped."""
    return (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): the
    diameter-independent upgrade path ``connected_components``'s
    docstring points at.  Converges in O(log^2 n) rounds on ANY graph
    shape — a million-node path graph is ~15 rounds here vs a million
    hash-min rounds — at ~2 shuffles per star op.

    Same contract as ``connected_components``: edges (a, b) undirected,
    nodes (node) incl. singletons, returns (node, label) with
    label = min node id in the component.  Pass a dict as ``stats`` to
    get ``{"rounds": n}`` back (scale tests pin the round budget).

    Per round:
      large-star: every strictly-larger neighbor of u re-hooks onto
        min(N(u) ∪ {u})  — breaks long chains in half;
      small-star: u and its strictly-smaller neighbors all hook onto
        their minimum — flattens local trees into stars.
    Converged when the edge multiset is stable (count + bit_xor of
    xxhash64 fingerprint — the XOR aggregate cannot overflow under ANSI
    mode, unlike a sum).  The converged graph is a forest of stars
    rooted at each component minimum, so labels are one left join.
    """
    e = pin(_canonical(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
    ))

    def fingerprint(df: DataFrame) -> tuple:
        row = df.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = fingerprint(e)
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m_large = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        large = pin(_canonical(
            sym.where(F.col("v") > F.col("u"))
            .join(m_large, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        ))

        # canonical edges already orient child > parent, so N<(u) is
        # exactly large's v-side for each u
        m_small = large.groupBy("u").agg(F.min("v").alias("m"))
        small = pin(_canonical(
            large.join(m_small, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m_small.select("u", F.col("m").alias("v")))
        ))

        e = small
        cur = fingerprint(e)
        if cur == prev:
            converged = True
            break
        prev = cur

    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise ConvergenceError(
            f"connected_components_star did not converge in {max_iter} "
            f"rounds — not expected for any graph below ~2^{max_iter // 2} "
            f"nodes; check for label-width overflow or raise max_iter"
        )
    parents = e.select(F.col("u").alias("node"), F.col("v").alias("lbl"))
    return nodes.join(parents, "node", "left").select(
        "node", F.coalesce("lbl", F.col("node")).alias("label")
    )
