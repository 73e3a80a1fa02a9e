"""Graph traversal — `find_related_entities` as a seeded BFS.

The reference walks a LIFO stack over the full triple Vec per hop
(ref:src/knowledge_graph/mod.rs:201-232), following edges in BOTH
directions, admitting a neighbor iff it `starts_with("http")`, up to
`max_depth` hops, with a visited set.  Order and duplicates in the
reference output are artifacts of the stack; the *set* of reachable
entities (excluding the seed) is the meaningful result, which is what
this operator returns.

Spark shape: pre-compute the bidirectional edge list once, then run
the shared seeded BFS (operators/graph_local.py) for `max_depth` hops —
a driver walk over the collected edges when the graph is small,
broadcast-frontier joins otherwise — and drop the seed from its result.

Faithfulness notes (both reproduced):
- reverse edges additionally require the *current* node to look
  URI-ish (the reference's `:221` re-checks `triple.object ==
  current_uri && triple.object.starts_with("http")`).
- forward-neighbors only need the neighbor (object) to be URI-ish; the
  subject side is never tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators.graph_local import seeded_bfs


def find_related_entities(
    graph: DataFrame, entity_uri: str, max_depth: int
) -> DataFrame:
    """DataFrame(entity: string) — distinct entities reachable from the
    seed within max_depth hops, the seed itself excluded."""
    if max_depth <= 0:
        return graph.sparkSession.createDataFrame([], "entity string")

    fwd = graph.select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    ).where(F.col("object").startswith("http"))
    # reverse edges: current node (the object) must itself be URI-ish;
    # NULL subjects are not entities, so they are not edges either
    rev = graph.select(
        F.col("object").alias("src"), F.col("subject").alias("dst")
    ).where(F.col("object").startswith("http") & F.col("subject").isNotNull())
    reached, _ = seeded_bfs(fwd.unionByName(rev), entity_uri, max_depth)
    return reached.filter(F.col("node") != entity_uri).select(
        F.col("node").alias("entity")
    )
