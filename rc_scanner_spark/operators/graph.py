"""Distributed connected components over near-duplicate edges.

Fuzzy dedup at corpus scale (MinHash bands, SimHash chunks, multiple
content fingerprints) emits *pairs*; turning pairs into canonical
document groups is a connected-components problem — a doc can match A
on one key and B on another, chaining A-doc-B into one cluster.

The solver is iterative min-label propagation expressed entirely in
DataFrame ops: each round is one hash-aggregate over the (static) edge
list joined with the current labels, so every round is a single
shuffle on the node id.  Lineage is cut per round with
``localCheckpoint`` (an iterative plan would otherwise grow without
bound), and the loop exits as soon as a round changes no label.  Round
count is bounded by the cluster diameter — for dedup graphs that is
small (clusters are near-identical documents chained through shared
keys), so this converges in 2-4 rounds in practice; the edge builder
below additionally emits *star* edges (every member -> its group min),
which caps the diameter of any single-key group at 2 hops.

Scale notes (100 TB): edges are built from bounded key groups (a df
cap drops degenerate hot keys), star construction keeps the edge count
linear in the membership (never m^2 per key), and the label frame
carries only (id, component) longs — the shuffled state per round is
16 bytes/doc regardless of document size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def star_edges_for_key(
    df: DataFrame, id_col: str, key_col: str, max_group: int = 1000
) -> DataFrame:
    """Edges connecting every doc sharing ``key_col`` to the group's
    min id: ``(src, dst)`` with src > dst.  Linear in group size (a
    star, not a clique) yet connects the same component.  Groups
    larger than ``max_group`` are dropped — a key shared by thousands
    of docs is boilerplate, not duplication, and would otherwise
    dominate the shuffle."""
    # Count FIRST, filter, then join back (the SQL twin's shape): a
    # collect_set before the cap filter would materialize a degenerate
    # hot key's complete member array in ONE aggregation buffer before
    # the cap could drop it — the same unbounded-state hazard the
    # ngram bucket cap closed in review r8 round 7 (fixed review r10).
    # Constant aggregate state per key; only capped keys join back.
    ids = df.select(key_col, F.col(id_col).alias("src")).distinct()
    grp = (
        ids.groupBy(key_col)
        .agg(F.min("src").alias("dst"), F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= max_group))
    )
    return (
        ids.join(grp, key_col)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def connected_components(
    edges: DataFrame, max_iters: int = 25
) -> DataFrame:
    """Min-label connected components: returns (id, component) where
    ``component`` is the smallest id reachable from ``id`` over the
    undirected ``edges`` (columns src, dst).  Nodes appearing in no
    edge are absent — union the full id set downstream if needed.

    Each iteration: symmetrize once (cached), join labels to edges,
    take the min neighbor label per node, keep the smaller of
    (own label, best neighbor label).  One shuffle per round, state is
    two longs per node, lineage cut per round.
    """
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        # One join + one aggregation per round (r15; was two joins).
        # The old shape aggregated neighbor labels per node and LEFT
        # JOINED the result back onto ``labels`` to take
        # least(own, best neighbor) — under AQE that second join cost
        # its own exchange materializations and driver re-plans every
        # round (dedup_keep_best: 42 driver jobs, ~2.5 s of driver
        # orchestration for 0.3 s of executor work).  min(own ∪
        # neighbor labels) is the same value computed in ONE
        # aggregation when the node's own label rides the union as an
        # extra row; the self row also carries the old component so
        # the r14 probe (filter+limit over the materialized
        # checkpoint, no extra join) is unchanged: per id, max(old)
        # sees exactly the one non-null self value.
        contrib = sym.join(labels, sym["dst"] == labels["id"]).select(
            sym["src"].alias("id"),
            "component",
            F.lit(None).cast("long").alias("old_component"),
        )
        own = labels.select(
            "id", "component", F.col("component").alias("old_component")
        )
        new_labels = (
            contrib.union(own)
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.max("old_component").alias("old_component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.filter(
                F.col("component") != F.col("old_component")
            )
            .limit(1)
            .count()
        )
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    else:
        # Silent non-convergence would return split components while
        # the exact recursive-closure oracle merges them — fail loudly
        # instead (a 25-hop-deep label chain means the iteration cap,
        # not the data, chose the answer).
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "iterations; raise max_iters for deeper label chains"
        )
    return labels
