"""Entity linking + connected components + canonicalization tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators.canonicalize import canonicalize_triples
from rdf_knowledge_extractor_spark.operators.components import connected_components
from rdf_knowledge_extractor_spark.operators.linking import (
    entity_universe,
    link_entities,
    prefix_candidate_pairs,
    with_canonical_key,
)

BASE = "http://business.example.org/resource/"
NS = "http://business.example.org/ontology#"


def _triples(spark, rows):
    from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA

    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("z", "z")], "src string, dst string"
    )
    cc = {r.node: r.component for r in connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["x"] == cc["y"] == "x"
    assert cc["z"] == "z"


def test_connected_components_chain(spark):
    # path graph: propagation needs several rounds
    nodes = [f"n{i:02d}" for i in range(10)]
    edges = spark.createDataFrame(
        list(zip(nodes, nodes[1:])), "src string, dst string"
    )
    cc = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(cc.values()) == {"n00"}


def test_canonical_key_strips_suffix(spark):
    ents = spark.createDataFrame(
        [
            (BASE + "TechcorpInc",),
            (BASE + "Techcorp",),
            (BASE + "TechcorpGroup",),
            (BASE + "DatasystemsCorp",),
        ],
        "uri string",
    )
    keyed = {r.uri: r.key for r in with_canonical_key(ents).collect()}
    assert keyed[BASE + "TechcorpInc"] == "techcorp"
    assert keyed[BASE + "Techcorp"] == "techcorp"
    assert keyed[BASE + "TechcorpGroup"] == "techcorp"
    assert keyed[BASE + "DatasystemsCorp"] == "datasystems"


def test_lsh_blocks_same_key_entities(spark):
    ents = with_canonical_key(
        spark.createDataFrame(
            [(BASE + "TechcorpInc",), (BASE + "Techcorp",), (BASE + "ZzzOther",)],
            "uri string",
        )
    )
    pairs, report = prefix_candidate_pairs(ents, max_bucket_size=50)
    got = {(r.uri_a, r.uri_b) for r in pairs.collect()}
    key = (min(BASE + "TechcorpInc", BASE + "Techcorp"), max(BASE + "TechcorpInc", BASE + "Techcorp"))
    assert key in got
    assert report.count() == 0


def test_link_and_canonicalize_end_to_end(spark):
    rows = [
        (BASE + "TechcorpInc", NS + "hasName", "TechCorp Inc.", 1.0, "d1", {}, 0, 0),
        (BASE + "Techcorp", NS + "locatedIn", "Austin", 1.0, "d2", {}, 1, 0),
        (BASE + "TechcorpInc", NS + "locatedIn", "Austin", 1.0, "d1", {}, 0, 1),
        (BASE + "JohnSmith", NS + "worksFor", BASE + "TechcorpGroup", 1.0, "d3", {}, 2, 0),
        (BASE + "DatasystemsCorp", NS + "hasName", "DataSystems Corp", 1.0, "d4", {}, 3, 0),
    ]
    triples = _triples(spark, rows)
    mapping = link_entities(triples)
    m = {r.uri: r.canonical for r in mapping.collect()}
    # all TechCorp variants merge to one canonical (min uri = …/Techcorp)
    assert m[BASE + "TechcorpInc"] == m[BASE + "Techcorp"] == m[BASE + "TechcorpGroup"]
    canon = m[BASE + "Techcorp"]
    # DataSystems and the person stay separate
    assert m[BASE + "DatasystemsCorp"] != canon
    assert m[BASE + "JohnSmith"] != canon
    assert m[BASE + "JohnSmith"] != m[BASE + "DatasystemsCorp"]

    out = canonicalize_triples(triples, mapping)
    rows_out = out.collect()
    # the two locatedIn Austin rows collapse to one (first wins: d1)
    located = [r for r in rows_out if r.predicate.endswith("locatedIn")]
    assert len(located) == 1 and located[0].subject == canon and located[0].source == "d1"
    # object remap: worksFor object now canonical
    wf = [r for r in rows_out if r.predicate.endswith("worksFor")][0]
    assert wf.object == canon
    # literal objects untouched
    names = {r.object for r in rows_out if r.predicate.endswith("hasName")}
    assert names == {"TechCorp Inc.", "DataSystems Corp"}


def test_linking_on_generated_corpus(spark, example_config):
    """Alias mentions in the synthetic corpus must merge: cluster
    assignment = stem rule (same stripped key ⇒ same component)."""
    from rdf_knowledge_extractor_spark.functions.extract import (
        extract_triples_stage,
        split_triples_and_lineage,
    )
    from rdf_knowledge_extractor_spark.sources.pages import pages_dataframe

    pages = pages_dataframe(spark, 40, seed=42)
    extracted = extract_triples_stage(pages, example_config, client_kind="stub")
    triples, _ = split_triples_and_lineage(extracted)
    triples = triples.cache()

    mapping = link_entities(triples)
    ent = with_canonical_key(entity_universe(triples))
    joined = ent.join(mapping, on="uri").select("key", "canonical").distinct().collect()
    by_key: dict[str, set] = {}
    by_canon: dict[str, set] = {}
    for r in joined:
        by_key.setdefault(r.key, set()).add(r.canonical)
        by_canon.setdefault(r.canonical, set()).add(r.key)
    # recall: one component per key
    bad_recall = {k: v for k, v in by_key.items() if len(v) > 1}
    assert not bad_recall, bad_recall
    # precision: one key per component
    bad_precision = {c: v for c, v in by_canon.items() if len(v) > 1}
    assert not bad_precision, bad_precision


def test_star_cc_matches_labelprop_and_log_rounds(spark):
    """Large-star/small-star (VERDICT #7): identical labels to the
    driver union-find arm, converging in O(log n) rounds on a CHAIN
    (min-label propagation would need n rounds)."""
    import math

    from rdf_knowledge_extractor_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    n = 64  # chain n000-n001-...: diameter 63
    chain = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n - 1)]
    # plus a separate star and an isolated self-loop
    star = [("s_hub", f"s_leaf{i}") for i in range(5)]
    edges = spark.createDataFrame(chain + star + [("iso", "iso")], "src string, dst string")

    labels_star, rounds = connected_components_star(edges, "src", "dst")
    got = {r["node"]: r["component"] for r in labels_star.collect()}
    assert all(got[f"n{i:03d}"] == "n000" for i in range(n))
    assert got["s_hub"] == "s_hub" and got["s_leaf3"] == "s_hub"
    assert got["iso"] == "iso"
    # O(log n) + small constant — label prop would take ~63 rounds
    assert rounds <= int(math.log2(n)) + 4, f"took {rounds} rounds"

    # the dispatcher's small arm (driver union-find) gives the same
    # answer without rounds
    uf = {
        r["node"]: r["component"]
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert uf == got


def test_cc_dispatcher_small_and_shapes(spark):
    from rdf_knowledge_extractor_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "src string, dst string"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    # an empty edge list keeps the input's node type
    empty = connected_components(spark.createDataFrame([], "src bigint, dst bigint"))
    assert empty.count() == 0
    assert empty.schema.simpleString() == "struct<node:bigint,component:bigint>"
