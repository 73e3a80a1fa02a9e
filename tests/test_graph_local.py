"""Twin arms of the small-graph policy (operators/graph_local.py) agree.

Every graph operator with a driver-side arm — connected components,
`find_related_entities` and SPARQL's seeded `p+` — must give the same
answer as its distributed arm on random graphs with NULL endpoints,
self-loops and cycles.  The distributed arm is forced by setting the
one size bound, `graph_local.MAX_EDGES`, to 0.
"""

from __future__ import annotations

import random
from collections import Counter

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from rdf_knowledge_extractor_spark.operators import graph_local
from rdf_knowledge_extractor_spark.operators.components import (
    connected_components,
    connected_components_star,
)
from rdf_knowledge_extractor_spark.operators.traversal import find_related_entities
from rdf_knowledge_extractor_spark.query.sparql import SparqlEngine

_SETTINGS = settings(max_examples=10, deadline=None)

# random string and bigint edge lists with self-loops and chains
_rng = random.Random(13)
_STR_EDGES = [(f"n{_rng.randint(0, 60)}", f"n{_rng.randint(0, 60)}") for _ in range(120)]
_STR_EDGES += [("iso", "iso"), ("c0", "c1"), ("c1", "c2"), ("c2", "c3")]
_INT_EDGES = [(_rng.randint(0, 40), _rng.randint(0, 40)) for _ in range(80)]

_STRING_NODES = ["a", "b", "c", "d", "e", "z", "É", None]
_BIGINT_NODES = [-3, -1, 0, 1, 2, 5, 2**40, None]


@st.composite
def edge_lists(draw):
    kind = draw(st.sampled_from(["string", "bigint"]))
    node = st.sampled_from(_STRING_NODES if kind == "string" else _BIGINT_NODES)
    return kind, draw(st.lists(st.tuples(node, node), max_size=12))


def _edges_df(spark, graph):
    kind, edges = graph
    return spark.createDataFrame(edges, f"src {kind}, dst {kind}")


def _bag(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


@_SETTINGS
@given(graph=edge_lists())
@example(graph=("string", [("a", "b"), ("c", None), (None, "d"), ("e", "e")]))
@example(graph=("string", _STR_EDGES))
@example(graph=("bigint", _INT_EDGES))
@example(graph=("bigint", []))
def test_union_find_matches_star_rounds(spark, graph):
    edges = _edges_df(spark, graph)
    got = connected_components(edges)  # small input: driver union-find
    want, _ = connected_components_star(edges, "src", "dst")
    assert _bag(got) == _bag(want)
    assert [f.dataType.simpleString() for f in got.schema] == [graph[0], graph[0]]
    assert [f.dataType for f in want.schema] == [f.dataType for f in got.schema]


def _related(rows, seed, depth):
    """Reference walk: URI-object triples connect both ways."""
    adj: dict = {}
    for s, o in rows:
        if s is not None and o is not None and o.startswith("http"):
            adj.setdefault(s, set()).add(o)
            adj.setdefault(o, set()).add(s)
    seen, frontier = {seed}, {seed}
    for _ in range(depth):
        frontier = {n for f in frontier for n in adj.get(f, ())} - seen
        seen |= frontier
    return seen - {seed}


_URIS = [f"http://x/{c}" for c in "abcde"]
_TRIPLE_TERMS = _URIS + ["lit", None]


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(_TRIPLE_TERMS), st.sampled_from(_TRIPLE_TERMS)),
        max_size=12,
    ),
    seed=st.sampled_from(_URIS),
    depth=st.integers(1, 3),
)
@example(
    rows=[
        ("http://x/a", "http://x/b"),
        ("http://x/b", "http://x/c"),
        ("http://x/c", "lit-not-uri"),
        ("http://x/d", "http://x/a"),  # reverse reach into a
        ("http://x/e", "http://x/e"),  # self loop
        ("http://x/z1", "http://x/z2"),  # disconnected
    ],
    seed="http://x/a",
    depth=2,
)
def test_traversal_driver_bfs_matches_frontier_join(spark, rows, seed, depth):
    g = spark.createDataFrame(
        [(s, "p", o) for s, o in rows], "subject string, predicate string, object string"
    )
    driver = _bag(find_related_entities(g, seed, depth))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph_local, "MAX_EDGES", 0)
        dist = _bag(find_related_entities(g, seed, depth))
    assert driver == dist == Counter((n,) for n in _related(rows, seed, depth))


_NEXT = "http://x/next"
_IRIS = [f"urn:n{i}" for i in range(5)]


@_SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(_IRIS + [None]),
            st.sampled_from([_NEXT, _NEXT, "http://x/other"]),
            st.sampled_from(_IRIS + [None]),
        ),
        max_size=12,
    ),
    seed=st.sampled_from(_IRIS),
    forward=st.booleans(),
)
def test_sparql_seeded_closure_driver_matches_frontier_join(spark, rows, seed, forward):
    g = spark.createDataFrame(rows, "subject string, predicate string, object string")
    q = (
        f"SELECT ?x WHERE {{ <{seed}> <{_NEXT}>+ ?x }}"
        if forward
        else f"SELECT ?x WHERE {{ ?x <{_NEXT}>+ <{seed}> }}"
    )

    def run():
        eng = SparqlEngine(g)
        return _bag(eng.execute(q)), eng.last_path_stats

    driver, driver_stats = run()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(graph_local, "MAX_EDGES", 0)
        dist, dist_stats = run()
    assert driver == dist
    assert driver_stats == dist_stats
    assert driver_stats["mode"] == "seeded"


def test_components_small_arm_is_one_job(spark, tmp_path, count_jobs):
    """On a one-file parquet edge list the bounded collect that picks the
    driver arm is the only Spark job of connected_components."""
    path = str(tmp_path / "edges")
    spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("z", "z")], "src string, dst string"
    ).coalesce(1).write.parquet(path)
    edges = spark.read.parquet(path)
    labels, jobs = count_jobs(lambda: connected_components(edges))
    assert jobs == 1
    assert {r.node: r.component for r in labels.collect()} == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "z",
    }
