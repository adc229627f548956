"""Bounded label propagation: connected components for dedup clusters.

Every dedup operator in this engine emits PAIRS (id_a, id_b). A
curation pipeline then needs CLUSTERS — one surviving representative
per connected component of the pair graph (A~B, B~C must collapse to
one group even when A~C was never scored). This module closes that gap
with min-label propagation in pure DataFrame form:

    label(v) <- min(label(v), min over neighbors' labels), k rounds

After k rounds every vertex holds the smallest vertex id within k hops,
so components with diameter <= k are exactly labeled by their minimum
member — the canonical deterministic representative. k is FIXED (not
run-to-convergence) so the DuckDB oracle can replay the identical
computation as unrolled CTEs; convergence for a given dataset is
asserted separately in tests (one extra round changes nothing).

Scale notes: the edge list is materialized once WITH SELF-LOOPS, which
turns every round into exactly one equi-join + one aggregate (min over
N(v) ∪ {v}) — no separate own-label branch, so labels are referenced
once per round and the whole k-round pipeline is a linear plan (no
exponential lazy-recompute, minimal shuffle count: join co-partitioned
on the node id, aggregate on src). Rounds shuffle O(|E|). Diameters in
near-dup graphs are small (duplicates cluster around a few originals),
so k stays single-digit; for adversarial chains switch to the
large-star/small-star contraction (same join shape, fewer rounds),
which this fixed-k form approximates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..pins import pin, unpin


def _self_looped(
    edges: DataFrame, src_col: str, dst_col: str, edges_unique: bool
) -> tuple[DataFrame, DataFrame]:
    """``(sym, labels)``: the symmetrized edge list with self-loops
    (``src``, ``dst``), pinned and materialized, and round 1's labels
    (``node``, ``label``) over it, lazy. ``edges_unique``: see
    ``label_propagation``."""
    # Symmetrize + self-loops with ONE pass over the (possibly
    # expensive) edge plan: a union of per-orientation selects would
    # evaluate the edge join once per branch before the cache
    # materializes, doubling the heaviest step. explode emits all four
    # orientations from a single scan.
    both = F.explode(
        F.array(
            F.struct(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
            F.struct(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")),
            F.struct(F.col(src_col).alias("src"), F.col(src_col).alias("dst")),
            F.struct(F.col(dst_col).alias("src"), F.col(dst_col).alias("dst")),
        )
    )
    sym = edges.select(both.alias("_e")).select("_e.src", "_e.dst")
    if not edges_unique:
        sym = sym.distinct()
    sym = pin(sym)
    sym.count()  # pinned: reused every round

    # Round 1 folded into initialization: on identity labels the update
    # is min(dst) over N(v) ∪ {v} — one aggregate, no join.
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("label"))
        .select(F.col("src").alias("node"), "label")
    )
    return sym, labels


def label_propagation(
    edges: DataFrame,
    iterations: int = 6,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    cache_every: int = 2,
    edges_unique: bool = False,
    broadcast_labels: bool = False,
) -> DataFrame:
    """(node, component) for every vertex in ``edges`` after
    ``iterations`` rounds of min-label propagation. component = the
    minimum vertex id within ``iterations`` hops (= the component's
    minimum once converged).

    The symmetrized edge list carries self-loops, so each round is ONE
    join + ONE aggregate: label_{i+1}(v) = min over u in N(v) ∪ {v} of
    label_i(u). Round 1 needs no join at all — on identity labels it is
    just min(dst) over the self-looped edge list.

    ``cache_every`` controls the materialization cadence. With
    self-loops the round pipeline is linear (labels feed one consumer
    per round), so laziness never multiplies work; materializing every
    few rounds only bounds lineage depth / task-serialization size for
    DEEP propagation. ``cache_every=0`` (right for small fixed k) runs
    every round in the consumer's single job.

    ``edges_unique=True`` declares that the input pairs are already
    duplicate-free with src < dst (every dedup operator here emits
    exactly that), which makes the symmetrized edge list distinct
    enough by construction — the dedup shuffle is skipped. min() is
    idempotent, so even a wrong claim only costs duplicate join rows,
    never a wrong label (self-loop duplicates from shared endpoints are
    harmless for the same reason).

    ``broadcast_labels=True`` hints the per-round label table to
    broadcast, removing the join's shuffle of the edge list. Only for
    BOUNDED vertex sets (e.g. a key-range-filtered entity-resolution
    block): at full scale the label table is one row per vertex and
    must shuffle co-partitioned instead.
    """
    sym, labels = _self_looped(edges, src_col, dst_col, edges_unique)
    checkpoint = None
    for i in range(1, iterations):
        rhs = F.broadcast(labels) if broadcast_labels else labels
        labels = (
            sym.join(rhs, sym["dst"] == rhs["node"])
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .select(F.col("src").alias("node"), "label")
        )
        if cache_every and (i + 1) % cache_every == 0 and i != iterations - 1:
            labels = pin(labels)
            labels.count()  # bound lineage depth for deep propagation
            if checkpoint is not None:
                # the new checkpoint is materialized, so later rounds
                # never re-read the superseded one — free it now instead
                # of holding every checkpoint for the whole propagation
                unpin(checkpoint)
            checkpoint = labels
    # the LAST round is deliberately left lazy: the caller consumes the
    # result exactly once, so forcing a final materialization job would
    # only add fixed overhead
    return labels.select("node", F.col("label").alias("component"))


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_rounds: int = 16,
    edges_unique: bool = False,
    broadcast_labels: bool = False,
) -> DataFrame:
    """EXACT connected components, run to convergence — the scalable
    form the fixed-k ``label_propagation`` approximates (and the
    module docstring promises for adversarial chains). Each round
    alternates the two classic primitives:

      1. neighborhood min:  l(v) <- min over N(v) ∪ {v} of l(u)
         (one equi-join + one aggregate over the pinned self-looped
         edge list — identical join shape to label_propagation), then
      2. pointer jumping:   l(v) <- l(l(v))
         (one self-join of the label table — path compression).

    Pointer jumping halves the distance to the component minimum each
    round, so convergence takes O(log diameter) rounds instead of
    O(diameter) — the hash-to-min / star-contraction regime (Kiveris
    et al., "Connected Components in MapReduce and Beyond") with the
    same O(|E|) per-round shuffle. Convergence is DETECTED, not
    assumed: each round materializes the new label table (pinned) and
    counts changed labels — a bounded scalar per round, the same
    driver-loop discipline as pagerank_fuzzy. Raises if the graph has
    not converged after ``max_rounds`` (2^max_rounds exceeds any real
    diameter; hitting the cap means a bug, and a loud error beats
    silently-partial components).

    ``broadcast_labels`` mirrors label_propagation's flag: for BOUNDED
    vertex sets (key-range-filtered entity-resolution blocks) hinting
    the per-round label table to broadcast removes both the
    edge-join's shuffle and the pointer-jump's sort-merge self-join;
    at full scale leave it False so the label table shuffles
    co-partitioned instead."""
    sym, labels = _self_looped(edges, src_col, dst_col, edges_unique)
    labels = pin(labels)
    labels.count()
    try:
        for _ in range(max_rounds):
            rhs = F.broadcast(labels) if broadcast_labels else labels
            # the self-loop row (dst == src) carries the node's OWN
            # previous-round label, so the same aggregate that takes
            # the neighborhood min also extracts l_{i-1}(v) — change
            # detection below then needs NO join against the previous
            # label table (r11, guide §2.4: one |V|-sized join — and in
            # broadcast mode one broadcast build — removed per round)
            stepped = (
                sym.join(rhs, sym["dst"] == rhs["node"])
                .groupBy("src")
                .agg(
                    F.min("label").alias("_l"),
                    F.max(
                        F.when(sym["dst"] == sym["src"], F.col("label"))
                    ).alias("_old"),
                )
                .select(F.col("src").alias("node"), "_l", "_old")
            )
            # ONE pointer jump per round: one self-join of the LABEL
            # table (|V|-sized — broadcast here, and far smaller than
            # the |E| neighborhood join either way). On the only
            # registry caller (name_components_converged, sf0.1
            # fuzzy-name blocks) convergence takes 2 rounds at 1, 2 and
            # 3 jumps alike — one working round plus the mandatory
            # no-change confirmation round — so more jumps there are
            # pure added joins (OPTIMIZATION_r12.md §8). least() keeps
            # the hop monotone: a label only ever decreases toward the
            # component min, so it can never overshoot.
            cur = stepped.withColumnRenamed("_l", "label")
            inner = cur.select(F.col("node").alias("_pn"), F.col("label").alias("_pl"))
            if broadcast_labels:
                inner = F.broadcast(inner)
            jumped = pin(
                cur.join(inner, cur["label"] == inner["_pn"], "left").select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce(F.col("_pl"), F.col("label"))
                    ).alias("label"),
                    "_old",
                )
            )
            changed = jumped.filter(F.col("label") != F.col("_old")).count()
            unpin(labels)
            labels = jumped
            if changed == 0:
                return labels.select(
                    "node", F.col("label").alias("component")
                )
        # release the last round's pinned labels before raising — the
        # error path must not leak a pin into the registry (the
        # post-sweep cache-leak gate would flag it)
        unpin(labels)
        raise RuntimeError(
            f"connected_components: no convergence in {max_rounds} rounds"
        )
    finally:
        unpin(sym)
