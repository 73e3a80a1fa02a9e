"""Small-graph policy shared by connected components, traversal and
SPARQL property paths.

An edge list of at most `MAX_EDGES` rows fits the driver comfortably
(a few MB of node strings — the scalar-bounded-collect class of the
IVF training sample), and at that size the distributed loops' ~2-3
driver jobs per round ARE the cost.  One `limit(MAX_EDGES + 1)`
collect both picks the arm and fetches the edges: one extra row means
the graph is bigger than the bound and the caller's distributed arm
runs unchanged.

- `union_find` — components on collected edges (the star rounds'
  driver twin, operators/components.py);
- `seeded_bfs` — nodes reachable from one seed, as a driver walk over
  collected edges or as broadcast-frontier joins at scale (traversal's
  `find_related_entities` and SPARQL's seeded `p+`/`p*`).

Shared semantics: NULL endpoints never connect anything (an entity id
or RDF term is never NULL; a NULL never equals anything in the
distributed joins); non-NULL endpoints of a NULL edge are still nodes
of the edge list.  Node order is Python `<`, which matches Spark's for
both `bigint` and strings (UTF-8 byte order ≡ code-point order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_EDGES = 100_000


def collect_small(edges: DataFrame) -> list | None:
    """Every row of `edges` when it has at most MAX_EDGES rows, else
    None — one bounded job decides the arm and fetches the edges."""
    rows = edges.limit(MAX_EDGES + 1).collect()
    return rows if len(rows) <= MAX_EDGES else None


def _node_schema(node_type: T.DataType, *names: str) -> T.StructType:
    return T.StructType([T.StructField(n, node_type, True) for n in names])


def union_find(
    spark: SparkSession, rows: list, node_type: T.DataType
) -> DataFrame:
    """DataFrame(node, component) of collected (a, b) edge rows —
    component = min node reachable from `node`; path-compressed
    union-find with the min kept as root."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        for n in (a, b):
            if n is not None and n not in parent:
                parent[n] = n
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    # at most 2·MAX_EDGES rows, already on the driver: marked for
    # broadcast, since a DataFrame built from a driver list carries no
    # size estimate and a consumer's join would shuffle both sides
    return F.broadcast(spark.createDataFrame(
        [(n, find(n)) for n in parent],
        _node_schema(node_type, "node", "component"),
    ))


def seeded_bfs(
    edges: DataFrame, seed, max_depth: int | None = None
) -> tuple[DataFrame, int]:
    """(DataFrame(node), rounds) — the distinct nodes reachable from
    `seed` in 1..max_depth hops (unbounded when None) over
    `edges(src, dst)`.  The seed itself is included only when a cycle
    leads back to it.  `rounds` counts the hops expanded, including
    the terminating empty one when the walk ends before max_depth."""
    rows = collect_small(edges)
    if rows is None:
        return _bfs_frontier_join(edges, seed, max_depth)
    adj: dict = {}
    for s, d in rows:
        if s is not None and d is not None:
            adj.setdefault(s, []).append(d)
    frontier, reached, rounds = {seed}, set(), 0
    while max_depth is None or rounds < max_depth:
        new = {d for s in frontier for d in adj.get(s, ())} - reached
        rounds += 1
        if not new:
            break
        reached |= new
        frontier = new
    schema = _node_schema(edges.schema["src"].dataType, "node")
    return edges.sparkSession.createDataFrame(
        [(n,) for n in sorted(reached)], schema
    ), rounds


def _bfs_frontier_join(
    edges: DataFrame, seed, max_depth: int | None
) -> tuple[DataFrame, int]:
    """`seeded_bfs` at scale: the (tiny) frontier is broadcast against
    the edge table each hop and the reached set anti-joined out;
    localCheckpoint per hop truncates the growing lineage.  NULL
    destinations are dropped up front — a NULL never matches the
    anti-join, so it would otherwise re-enter every round."""
    spark = edges.sparkSession
    node_type = edges.schema["src"].dataType
    e = edges.select("src", "dst").filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    ).localCheckpoint(eager=True)
    frontier = spark.createDataFrame([(seed,)], _node_schema(node_type, "src"))
    reached = spark.createDataFrame([], _node_schema(node_type, "node"))
    rounds = 0
    while max_depth is None or rounds < max_depth:
        new = (
            e.join(F.broadcast(frontier), on="src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(reached, on="node", how="left_anti")
            .localCheckpoint(eager=True)
        )
        rounds += 1
        if new.isEmpty():
            break
        reached = reached.unionByName(new).localCheckpoint(eager=True)
        frontier = new.select(F.col("node").alias("src"))
    return reached, rounds
