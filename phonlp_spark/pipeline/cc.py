"""DataFrame-native connected components (large-star / small-star).

Replaces GraphFrames connected-components (north_star) with the
alternating-star algorithm of Kiveris et al., "Connected Components in
MapReduce and Beyond" — converges in O(log² n) rounds, each round two
shuffles (a per-node min aggregate + an equi-join), no driver-side
graph state.  Component ids are content-derived (the lexicographic min
node id of the component), so they are stable across partitioning,
cluster size and resume.

Every iteration ends with localCheckpoint() to cut lineage — without it
Catalyst replans an exponentially growing DAG (SURVEY.md §4 risk 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """Attach every strictly-larger neighbor to the neighborhood min."""
    e = edges.unionByName(edges.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst")))
    m = e.groupBy("src").agg(F.min("dst").alias("mn"))
    m = m.select("src", F.least("mn", F.col("src")).alias("mn"))
    return (
        e.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Point all smaller-or-equal neighbors (and self) at the min."""
    e = edges.select(F.greatest("src", "dst").alias("src"),
                     F.least("src", "dst").alias("dst"))
    m = e.groupBy("src").agg(F.min("dst").alias("mn"))
    nbrs = e.join(m, "src").select(F.col("dst").alias("node"), F.col("mn"))
    selfs = m.select(F.col("src").alias("node"), F.col("mn"))
    return (
        nbrs.unionByName(selfs)
        .filter(F.col("node") != F.col("mn"))
        .select(F.col("node").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _fingerprint(edges: DataFrame):
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("src", "dst")).alias("h"),  # overflow-free
    ).collect()[0]
    return row["n"], row["h"]


SMALL_GRAPH_EDGES = 100_000  # below this, solve on the driver


def _union_find_local(rows) -> list[tuple[str, str]]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict[str, list[str]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return [(n, min(members)) for members in comp.values() for n in members]


def connected_components(edges: DataFrame, max_iter: int = 50,
                         small_graph_edges: int | None = None) -> DataFrame:
    """edges (src, dst) -> (node, component) for every node in edges.

    `component` is the min node id in the node's component.

    Adaptive physical strategy: the alternating-star rounds each cost a
    couple of shuffles + a blocking checkpoint, so when the deduplicated
    edge set is small (<= SMALL_GRAPH_EDGES) it is solved with a driver
    union-find instead — identical output (min-id components), a single
    job instead of O(log n) rounds.  Big graphs take the distributed
    path unchanged.
    """
    spark = edges.sparkSession
    e = edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    if small_graph_edges is None:
        small_graph_edges = SMALL_GRAPH_EDGES
    # one bounded collect decides the strategy AND feeds the driver
    # fast path (formerly count + collect = two jobs; the limit keeps
    # the driver transfer capped for huge graphs)
    sample = e.limit(small_graph_edges + 1).collect()
    if not sample:
        return spark.createDataFrame([], "node string, component string")
    if len(sample) <= small_graph_edges:
        pairs = [(r["src"], r["dst"]) for r in sample]
        return spark.createDataFrame(
            _union_find_local(pairs), "node string, component string")

    # only the distributed rounds checkpoint: the driver path above
    # would never read (or release) a checkpointed edge set
    e = e.localCheckpoint()
    prev = None
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        cur = _fingerprint(e)
        if cur == prev:
            break
        prev = cur

    # converged: every edge is (node -> component min); add the mins
    labels = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"),
                     F.col("dst").alias("component")).distinct()
    return labels.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component"))


def canonical_map(edges: DataFrame, all_nodes: DataFrame,
                  small_graph_edges: int | None = None) -> DataFrame:
    """(node) ∪ CC(edges) -> (node, component); isolated nodes map to
    themselves.  `all_nodes` is a single-column 'node' DataFrame."""
    cc = connected_components(edges, small_graph_edges=small_graph_edges)
    return (
        all_nodes.select("node").distinct()
        .join(cc, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )
