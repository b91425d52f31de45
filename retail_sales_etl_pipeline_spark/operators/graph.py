"""Connected components over a pair-edge relation — the transitive rung of
the dedup ladder.

Greedy pair-drop dedup (keep the lower id of each verified near-dup pair)
is not transitive: A~B and B~C drops B and C's partner-pair may still keep
both A and C even though {A, B, C} is one duplicate cluster. The correct
semantics is one canonical survivor per CONNECTED COMPONENT of the
verified-pair graph — which needs an iterative algorithm, not one join.

Two join-only implementations behind one signature:

- ``algorithm="star"`` (default): alternating large-star / small-star
  contraction (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC 2014). Each round rewires every edge to point at a local
  minimum, halving (amortized) the distance to the component min — the
  round count is O(log n) on path graphs instead of O(diameter), which is
  the difference between 6 shuffle rounds and 50+ on a 100 TB near-dup
  graph with long duplicate chains. State is the edge set itself; at the
  fixpoint the edges form a star forest with every node pointing directly
  at its component's minimum id.
- ``algorithm="label"``: iterative min-label propagation — one
  co-partitioned join + min-agg per round, converging in O(longest
  shortest path) rounds. The simpler, obviously-correct reference form;
  kept as the equivalence twin (tests/test_graph_components.py proves the
  two agree on random graphs).

Both keep all data distributed: the driver holds only a per-round
convergence scalar; labels and edges never leave the cluster.

The result (min id per component) is deterministic and SQL-expressible
via recursive reachability, so the registry queries built on this
operator are fully DuckDB-oracle-checked (WITH RECURSIVE twin) — the
exactly-verifiable case of an iterative algorithm.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..schemas import rows_frame


def _large_star(edges: DataFrame) -> DataFrame:
    """Each node connects its strictly-larger neighbors to the minimum of
    its closed neighborhood. Edges out: (src, dst) with src > dst."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).filter(F.col("src") != F.col("dst"))
    m = sym.groupBy("src").agg(F.min("dst").alias("mn")).select(
        "src", F.least("src", "mn").alias("m")
    )
    return (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Each node connects its smaller-or-equal neighbors (and itself) to
    the minimum of that set. Edges out: (src, dst) with src > dst."""
    canon = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    m = canon.groupBy("src").agg(F.min("dst").alias("m"))
    return (
        canon.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(m.select("src", F.col("m").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


# Small-graph cutover: below this many (deduplicated) edges the component
# computation collects the edge list and runs union-find on the driver,
# broadcasting the label map back — the same size-gated driver-state
# pattern as the engine's broadcast joins and ≤k centroid collects. The
# bound keeps driver state tiny and KNOWN: ≤ 100K two-long rows is
# ~1.6 MB collected, and the broadcast label map (≤ 2 rows per edge) is
# under the default 10 MB auto-broadcast threshold by construction.
# Measured motivation (round 12): the sf0.1 near-dup graph has 256 edges
# and the distributed star iteration still costs ~1.3 s per round in
# fixed shuffle/stage overhead x 2 rounds — pure coordination cost for a
# graph that fits in one network packet. At 100 TB the verified-pair
# graph is far above the bound and the star iteration runs unchanged;
# the cutover is scale-adaptive, not a local[32] tuning.
CC_SMALL_GRAPH_MAX_EDGES = 100_000


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 50,
    algorithm: str = "star",
    stats: dict | None = None,
    small_graph_max_edges: int = CC_SMALL_GRAPH_MAX_EDGES,
) -> DataFrame:
    """(id, component_id) for every node: component_id = min node id
    reachable through ``edges`` (undirected; pass each pair once).

    Each round's frame is ``localCheckpoint``-ed: an iterative plan's
    LINEAGE doubles per round (the frame feeds both the next join and the
    convergence check), so without truncation the logical plan grows
    2^iters and kills the driver long before the data does — persist alone
    does NOT cut the logical plan. On a real cluster with executor loss to
    survive, point ``spark.sparkContext.setCheckpointDir`` at durable
    storage and swap in reliable ``checkpoint``; the shape is identical.
    Raises RuntimeError if not converged in ``max_iters`` rounds.

    ``stats`` (optional dict) is filled with ``{"rounds": n, "algorithm":
    ...}`` — observability for the no-silent-iteration rule and the
    round-count assertions in tests.
    """
    if algorithm == "star":
        return _cc_star(
            nodes, edges, id_col, src_col, dst_col, max_iters, stats,
            small_graph_max_edges,
        )
    if algorithm == "label":
        return _cc_label(nodes, edges, id_col, src_col, dst_col, max_iters, stats)
    raise ValueError(f"unknown algorithm: {algorithm!r}")


def union_find_by_min(edges) -> dict:
    """Driver-side union-find over an iterable of (a, b) edges with
    union-by-min roots, so every root IS its component's minimum node —
    the star fixpoint's labels. Returns {node: component minimum} for
    every node whose minimum is not itself; any other node (a root, or
    a node on no edge) is its own component."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def driver_labels_frame(nodes: DataFrame, id_col: str, labels: dict) -> DataFrame:
    """(id_col, component_id) for every row of ``nodes``: the driver's
    label map broadcast back, every unlabeled node its own component —
    exactly the star path's left join against its parents frame. The
    label schema takes the caller's id type (any orderable id type, not
    only long), and the label frame is a LocalTableScan (rows_frame)."""
    id_type = nodes.schema[id_col].dataType
    schema = StructType([StructField(id_col, id_type), StructField("component_id", id_type)])
    rows = [{id_col: k, "component_id": v} for k, v in labels.items()]
    lab = rows_frame(nodes.sparkSession, rows, schema)
    return (
        nodes.select(id_col)
        .join(F.broadcast(lab), id_col, "left")
        .select(id_col, F.coalesce("component_id", id_col).alias("component_id"))
    )


def _cc_driver_small(
    nodes: DataFrame, e: DataFrame, id_col: str, n_edges: int,
    stats: dict | None,
) -> DataFrame:
    """Union-find over a COLLECTED edge list (bounded by the small-graph
    cutover). Singletons never leave the cluster: only edge-endpoint
    labels are broadcast back."""
    labels = union_find_by_min(e.collect())
    if stats is not None:
        stats["rounds"] = 0
        stats["algorithm"] = "star+driver-small-graph"
        stats["n_edges"] = n_edges
    return driver_labels_frame(
        nodes.select(F.col(id_col).alias("id")), "id", labels
    )


def _cc_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    src_col: str,
    dst_col: str,
    max_iters: int,
    stats: dict | None,
    small_graph_max_edges: int = CC_SMALL_GRAPH_MAX_EDGES,
) -> DataFrame:
    e = (
        edges.select(
            F.greatest(F.col(src_col), F.col(dst_col)).alias("src"),
            F.least(F.col(src_col), F.col(dst_col)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = e.count()
    if 0 < small_graph_max_edges >= n_edges:  # 0 disables the cutover
        # the count above is already computed for convergence tracking;
        # below the bound the whole graph is driver-trivial and the star
        # iteration would spend seconds of shuffle rounds on it
        return _cc_driver_small(nodes, e, id_col, n_edges, stats)
    for i in range(max_iters):
        new_e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        n_new = new_e.count()
        # Set equality: both sides are distinct sets, so equal counts plus
        # an empty one-way difference means the edge set is stable — and
        # the fixpoint of large∘small star is a star forest whose edges
        # all point straight at the component minimum.
        if n_new == n_edges and new_e.exceptAll(e).isEmpty():
            if stats is not None:
                stats["rounds"] = i + 1
                stats["algorithm"] = "star"
            parents = new_e.groupBy("src").agg(F.min("dst").alias("component_id"))
            return (
                nodes.select(F.col(id_col).alias("id"))
                .join(parents.withColumnRenamed("src", "id"), "id", "left")
                .select(
                    "id",
                    F.coalesce("component_id", "id").alias("component_id"),
                )
            )
        e, n_edges = new_e, n_new
    raise RuntimeError(
        f"connected_components(star): not converged in {max_iters} rounds"
    )


def _cc_label(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    src_col: str,
    dst_col: str,
    max_iters: int,
    stats: dict | None,
) -> DataFrame:
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)

    try:
        for i in range(max_iters):
            offers = (
                sym.join(labels, sym["src"] == labels["id"])
                .select(F.col("dst").alias("id"), "label")
            )
            new_labels = (
                labels.unionByName(offers)
                .groupBy("id")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.label") < F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                if stats is not None:
                    stats["rounds"] = i + 1
                    stats["algorithm"] = "label"
                return labels.select("id", F.col("label").alias("component_id"))
        raise RuntimeError(
            f"connected_components(label): not converged in {max_iters} iterations"
        )
    finally:
        sym.unpersist()
