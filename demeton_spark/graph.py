"""Distributed connected components via iterative min-label propagation.

The Spark shape of the reference's flood-fill labeling
(/root/reference/Demeton/WaterBodies/Coloring.fs:17-182) generalized to
any node/edge DataFrame: used for near-dup document clustering and for
unifying per-tile water-body labels across tile boundaries.

Each round joins the current labels onto the (symmetric) edge list,
takes the min neighbor label per node, and ``localCheckpoint``s to cut
lineage.  On the graphs we build (dense similarity clusters, tile
adjacency) the diameter is small; a graph still changing after
``STAR_AFTER`` rounds finishes by O(log n) alternating-star contraction.
At cluster scale the labels table shuffles on node id each round — the
edge list is persisted once so rounds only pay the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: rounds used by the most recent connected_components call (for tests
#: and round-count telemetry)
LAST_ROUNDS = 0
#: round cap of the alternating-star loop
MAX_ITERATIONS = 25
#: label-propagation rounds run before the graph contracts to star
STAR_AFTER = 8


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    edge_cols: tuple[str, str] = ("a", "b"),
) -> DataFrame:
    """Label every node with the min node id of its component.

    ``nodes``: one column ``node_col`` (distinct ids, orderable).
    ``edges``: columns ``edge_cols`` (undirected; both orientations are
    derived here).  Returns ``(node, label)``.

    Min-label propagation runs for up to ``STAR_AFTER`` rounds (the
    common low-diameter case: duplicate clusters, tile adjacency
    converge in a handful); if not yet converged, nodes contract to
    their current labels and alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond")
    finishes — so a pathological high-diameter graph costs
    O(STAR_AFTER + log n) rounds, never O(diameter).
    """
    global LAST_ROUNDS
    ea, eb = edge_cols
    # Narrow the loop's width by repartitioning the INPUTS once, not by
    # flipping spark.sql.shuffle.partitions (that leaks to concurrent
    # queries on a shared SparkSession — ADVICE r2) and not by
    # repartitioning between the join and the groupBy (that forfeits
    # map-side partial aggregation and reshuffles the full edge list
    # every round).  sym is persist()ed — InMemoryRelation preserves the
    # hash partitioning, so the per-round join reuses it with ZERO
    # exchange on the big side; labels co-partitions on the same width.
    p = 16
    sym = (
        edges.select(F.col(ea).alias("src"), F.col(eb).alias("dst"))
        .union(edges.select(F.col(eb).alias("src"), F.col(ea).alias("dst")))
        .repartition(p, "dst")
        .persist()
    )
    labels = (
        nodes.select(
            F.col(node_col).alias("node"), F.col(node_col).alias("label")
        )
        .repartition(p, "node")
        .localCheckpoint()
    )
    converged = False
    for it in range(STAR_AFTER):
        LAST_ROUNDS = it + 1
        nbr_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("chg"),
            )
        ).localCheckpoint()
        changed = new_labels.where(F.col("chg")).count()
        labels = new_labels.drop("chg")
        if changed == 0:
            converged = True
            break
    if converged:
        sym.unpersist()
        return labels
    # escape hatch: diameter exceeded STAR_AFTER rounds.  Contract
    # every node to its current label (labels are node ids within the
    # same component, so component minima are preserved), finish the
    # contracted graph with O(log n)-round alternating-star, then map
    # the star labels back through the partial labeling.
    label_rounds = LAST_ROUNDS
    la = labels.select(F.col("node").alias("src"), F.col("label").alias("la"))
    lb = labels.select(F.col("node").alias("dst"), F.col("label").alias("lb"))
    contracted = (
        sym.join(la, "src")
        .join(lb, "dst")
        .select(F.col("la").alias("a"), F.col("lb").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    sym.unpersist()
    lbl_nodes = labels.select(F.col("label").alias("node")).distinct()
    star = _cc_star(lbl_nodes, contracted, "node", ("a", "b"))
    LAST_ROUNDS += label_rounds
    final = star.select(
        F.col("node").alias("label"), F.col("label").alias("final")
    )
    return labels.join(final, "label").select(
        "node", F.col("final").alias("label")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Attach every node's strictly-larger neighbors to its local min."""
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = (
        sym.groupBy("a")
        .agg(F.min("b").alias("mn"))
        .select("a", F.least("a", "mn").alias("m"))
    )
    return (
        sym.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Attach every node's smaller-or-equal neighborhood to its min."""
    d = (
        e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    mins = (
        d.groupBy("a")
        .agg(F.min("b").alias("mn"))
        .select("a", F.least("a", "mn").alias("m"))
    )
    joined = d.join(mins, "a")
    return (
        joined.select(F.col("b").alias("a"), F.col("m").alias("b"))
        .union(joined.select("a", F.col("m").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _cc_star(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str,
    edge_cols: tuple[str, str],
) -> DataFrame:
    """Alternating large-star/small-star edge contraction to a forest of
    stars rooted at component minima; O(log n) rounds.  Fixpoint is
    detected by an order-insensitive (count, hash-sum) signature of the
    edge set."""
    global LAST_ROUNDS
    ea, eb = edge_cols
    e = (
        edges.select(F.col(ea).alias("a"), F.col(eb).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    prev_sig = None
    for it in range(MAX_ITERATIONS):
        LAST_ROUNDS = it + 1
        e = _small_star(_large_star(e)).localCheckpoint()
        sig = e.agg(
            F.count("*").alias("n"),
            # mask to 40 bits so the ANSI-mode sum can't overflow int64
            F.sum(
                F.xxhash64("a", "b").bitwiseAND(F.lit((1 << 40) - 1))
            ).alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged: every edge points node → component min
    stars = (
        e.select(
            F.greatest("a", "b").alias("node"),
            F.least("a", "b").alias("label"),
        )
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
    return (
        nodes.select(F.col(node_col).alias("node"))
        .join(stars, "node", "left")
        .select("node", F.coalesce("label", "node").alias("label"))
    )
