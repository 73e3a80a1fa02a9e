"""Connected components on a DataFrame edge list.

Two algorithms behind one dispatcher, `connected_components`:

- **driver union-find** (operators/graph_local.py) — edge lists of at
  most `graph_local.MAX_EDGES` rows: the bounded collect that picks the
  arm also fetches the edges, and union-find replaces the iterative
  loop's ~2 jobs per round.
- **alternating large-star / small-star**
  (`connected_components_star`) — Kiveris et al., "Connected
  Components in MapReduce and Beyond" (cited in PAPERS.md; SURVEY
  §2.5): each round rewires every node to the minimum of its
  neighborhood, halving tree heights — O(log n) rounds REGARDLESS of
  diameter.  This is the scale path: a 10-hop chain (web-graph-ish
  component) costs ~log₂ rounds, not 10.

Both arms agree on every edge list (tests/test_graph_local.py),
NULL endpoints included: a NULL connects nothing and is never a node,
while the non-NULL endpoint of a NULL edge is an isolated node.

Shared scale design:
- NO explicit repartition — post-shuffle parallelism is left to AQE
  (`coalescePartitions`), which right-sizes each round for the actual
  volume (explicit repartition pins tiny iterations to the full
  shuffle-partition count and drowns the loop in task overhead);
- per-round `localCheckpoint` truncates the lineage chain (the classic
  iterative-algorithm plan blow-up: job time ~30 ms, driver Catalyst
  re-analysis seconds once the tree nests a few rounds deep);
- convergence tests are single-scalar aggregates on already-
  checkpointed round outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# _DRIVER_MAX_EDGES: the size-dispatch bound under its former name,
# which the benchmark's driver-arm metric (perfbench/workloads.py) reads
from rdf_knowledge_extractor_spark.operators.graph_local import (
    MAX_EDGES as _DRIVER_MAX_EDGES,  # noqa: F401
    collect_small,
    union_find,
)


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """DataFrame(node, component) — component = min node id (lexicographic
    for strings) reachable from `node`.  Isolated nodes appear iff they
    appear in `edges` (self-loops allowed); the node type is the input's.

    Dispatches: driver-side union-find for small edge sets,
    alternating large-star/small-star at scale (see module
    docstring).  The edge projection stays persisted across the
    bounded collect, so the star fallback does not recompute it."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).persist()
    try:
        rows = collect_small(e)
        if rows is not None:
            return union_find(e.sparkSession, rows, e.schema["a"].dataType)
        return connected_components_star(e, "a", "b")[0]
    finally:
        e.unpersist()


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star; returns (labels, rounds).

    Per round (both phases are one shuffle each):
      large-star: every node u connects its LARGER neighbors to
                  m(u) = min(Γ(u) ∪ {u});
      small-star: every node u connects its smaller neighbors (and
                  itself) to the min of those.
    The edge set converges to stars rooted at component minima in
    O(log n) rounds (paper: O(log² n) worst case, log n observed)."""
    universe = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .filter(F.col("node").isNotNull())
        .distinct()
        .persist()
    )
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # convergence fingerprint: (count, xor of pair hashes) — two scalars
    def _fp(df: DataFrame):
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    rounds = 0
    fp = _fp(e)
    for _ in range(max_iter):
        rounds += 1
        # -- large-star: symmetrize, m(u) = min(neighbors ∪ self),
        #    emit (larger neighbor, m)
        nbrs = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = nbrs.groupBy("u").agg(F.min("v").alias("_mv")).select(
            "u", F.least(F.col("_mv"), F.col("u")).alias("m")
        )
        large = (
            nbrs.join(m, on="u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: key every edge by its larger endpoint,
        #    m = min(smaller neighbors); emit (each smaller nbr, m) and (u, m)
        keyed = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m2 = keyed.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            keyed.join(m2, on="u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_fp = _fp(small)
        e = small
        if new_fp == fp:
            break
        fp = new_fp
    # converged: edges are (node, component-min) stars
    labels = (
        universe.join(e, universe["node"] == e["u"], "left")
        .select("node", F.coalesce(F.col("v"), F.col("node")).alias("component"))
    )
    universe.unpersist()
    return labels, rounds
