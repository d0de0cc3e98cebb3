"""Connected components over an undirected edge list.

:func:`connected_components` labels every node with the smallest node id
in its component, in two phases (a two-phase hybrid closing the
O(diameter) scale gap of plain propagation):

PHASE 1 — min-label propagation, 3 materializations of a QUAD
propagation step (a 12-hop horizon: the near-dup and trading graphs the
fixtures produce are dense, so real diameters are small — they converge
at 2-8 hops). Each hop is ONE keyed shuffle over a FIXED edge list that
carries a SELF-LOOP per node, so one hop is a single join+min-agg —
label'(u) = min over {u} ∪ N(u) — instead of a neighbor-agg then a
left-join merge-back (two joins per hop). Min-label propagation is
monotone non-increasing (no oscillation), so four hops per
materialization+probe quarter the checkpoint/convergence-job overhead at
the same fixpoint.

PHASE 2 — if propagation has NOT converged the graph has deep
(chain-shaped) components, exactly the templated/boilerplate case where
O(diameter) explodes; :func:`star_contract` runs the alternating
LARGE-STAR / SMALL-STAR contraction (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) over the original edges,
which hooks whole subtrees onto component minima and converges in
O(log^2 n) alternations worst case. Edge lists shrink monotonically
toward the star forest, so per-alternation cost decreases.

Star operators (canonical edge (big, small), big > small, no
self-loops):
- large-star(u): m = min(neighbors(u) + u); every neighbor v > u
  re-hooks to (v, m).
- small-star(u): over (big=u -> smaller neighbors N): m = min(N);
  emit (v, m) for v in N - m, plus (u, m).
Both preserve connectivity and the component min (paper Lemmas 1-2);
the fixpoint is the star forest centered at component minima, reached
when the edge set stops changing (probed per alternation with a
count + left-anti limit(1) pair over the checkpointed lists).

localCheckpoint (eager) truncates the iterative lineage in both phases —
without it round N replans rounds 1..N-1 and the loop goes quadratic in
plan size. tests/test_components_units.py and
tests/test_star_contraction*.py drive both phases against union-find.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Component labels ``(node, component)``, ``component`` = the
    smallest node id in the node's component; isolated nodes label
    themselves.

    ``edges``: two columns (taken by position) of undirected edges in
    either orientation; duplicates and self-loops are allowed, and every
    endpoint must be in ``nodes``. ``nodes``: one column of DISTINCT node
    ids. Both are read more than once, so callers checkpoint an
    expensive edge list before passing it in."""
    edges = edges.toDF("a", "b")
    nodes = nodes.toDF("node")

    # ---- PHASE 1: bounded min-label propagation over the fixed edges
    prop_edges = (
        edges.unionAll(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .unionAll(nodes.select(F.col("node").alias("a"), F.col("node").alias("b")))
        .localCheckpoint()
    )
    labels = nodes.select("node", F.col("node").alias("component")).localCheckpoint()

    def hop(lbl: DataFrame) -> DataFrame:
        return (
            prop_edges.join(lbl, prop_edges.b == lbl.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("component"))
        )

    for _ in range(3):  # 12-hop horizon; deeper graphs go to phase 2
        stepped = hop(hop(hop(hop(labels.select("node", "component")))))
        merged = (
            labels.select("node", F.col("component").alias("old_label"))
            .join(stepped, "node")
            .select("node", "old_label", "component")
            .localCheckpoint()
        )
        labels = merged.select("node", "component")
        if (
            merged.filter(F.col("component") != F.col("old_label"))
            .limit(1)
            .count()
            == 0
        ):
            return labels

    # ---- PHASE 2: alternating star contraction on the original edges
    stars = star_contract(
        edges.filter(F.col("a") != F.col("b")).select(
            F.greatest("a", "b").alias("big"), F.least("a", "b").alias("small")
        )
    )
    # star forest: every non-center member has exactly one (big=member,
    # small=center) edge; centers and singletons label themselves
    return nodes.join(
        stars.select(F.col("big").alias("node"), F.col("small").alias("center")),
        "node",
        "left",
    ).select("node", F.coalesce("center", "node").alias("component"))


def star_contract(edges: DataFrame, max_rounds: int = 1024) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    SoCC'14) to the star-forest fixpoint. Input: canonical undirected
    edges as columns (big, small) with big > small (self-loops excluded).
    Output: the star forest — one (member, component_min) row per
    non-center node; centers/singletons carry no row. Converges in
    O(log^2 n) alternations; each is two keyed shuffle-aggregations over
    the (monotonically shrinking) edge list.

    The loop runs UNTIL the per-alternation convergence probe fires (the
    edge set provably reaches the star-forest fixpoint, so termination is
    guaranteed — paper Theorem 1); `max_rounds` is only a safety net
    against an implementation bug, set far above the O(log^2 n) bound for
    any realistic graph (log2(1e9)^2 ≈ 900), and exhausting it RAISES
    rather than returning a partial — and therefore silently wrong —
    edge list (round-8 fix of the round-7 silent-truncation bug, which a
    5000-node chain at the old cap of 12 demonstrably hit). Driven
    directly on adversarial chain/star/forest graphs by
    tests/test_star_contraction.py; the dedup_clusters oracle covers the
    composed path."""
    edges = edges.select("big", "small").localCheckpoint()
    n_edges = edges.count()
    converged = n_edges == 0

    for _ in range(max_rounds):
        if n_edges == 0:
            converged = True
            break
        # LARGE-STAR over the bidirectional view: for each u, hook every
        # LARGER neighbor v to m = min(neighbors + u). Output (v, m) is
        # already canonical: v > u >= m.
        bidir = edges.unionAll(
            edges.select(
                F.col("small").alias("big"), F.col("big").alias("small")
            )
        ).toDF("u", "v")
        mins = bidir.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            bidir.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("big"), F.col("m").alias("small"))
            .filter(F.col("big") != F.col("small"))
            .dropDuplicates(["big", "small"])
        )
        # SMALL-STAR over the canonical (big -> smaller neighbor) view:
        # for each big, m = min(smaller neighbors); re-hook the other
        # smaller neighbors and big itself to m. small > m in out1 and
        # big > m in out2, so the output stays canonical.
        sm = ls.groupBy("big").agg(F.min("small").alias("m"))
        out1 = (
            ls.join(sm, "big")
            .filter(F.col("small") != F.col("m"))
            .select(F.col("small").alias("big"), F.col("m").alias("small"))
        )
        out2 = sm.select("big", F.col("m").alias("small"))
        # localCheckpoint (eager) truncates the iterative lineage each
        # alternation — without it round N replans rounds 1..N-1 and the
        # fixpoint loop goes quadratic in plan size.
        new_edges = (
            out1.unionAll(out2)
            .dropDuplicates(["big", "small"])
            .localCheckpoint()
        )
        new_count = new_edges.count()
        converged = new_count == n_edges and (
            new_edges.join(edges, ["big", "small"], "left_anti")
            .limit(1)
            .count()
            == 0
        )
        edges, n_edges = new_edges, new_count
        if converged:
            break
    if not converged:
        raise RuntimeError(
            "star_contract exhausted max_rounds=%d without reaching the "
            "star-forest fixpoint (%d edges remain) — refusing to return "
            "a partial edge list, which would yield silently wrong "
            "component ids. This indicates an implementation bug: the "
            "alternation provably converges in O(log^2 n) rounds."
            % (max_rounds, n_edges)
        )
    return edges
