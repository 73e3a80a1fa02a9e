"""Entity linking + connected components + canonicalization tests."""

from __future__ import annotations

import math
import random
from collections import Counter
from fractions import Fraction

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.operators import linking
from rdf_knowledge_extractor_spark.operators.canonicalize import canonicalize_triples
from rdf_knowledge_extractor_spark.operators.components import connected_components
from rdf_knowledge_extractor_spark.operators.linking import (
    entity_universe,
    jaccard_at_least,
    link_entities,
    prefix_candidate_pairs,
    prefix_length,
    shingle_hash_col,
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
    key = (min(BASE + "TechcorpInc", BASE + "Techcorp"), max(BASE + "TechcorpInc", BASE + "Techcorp"))
    for rank_prefixes in (True, False):
        pairs, report = prefix_candidate_pairs(
            ents, max_bucket_size=50, rank_prefixes=rank_prefixes
        )
        assert key in {(r.uri_a, r.uri_b) for r in pairs.collect()}
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


@pytest.mark.parametrize("threshold", [0.5, 0.8, 0.85, 0.9, 0.95])
def test_prefix_length_is_integer_exact(spark, threshold):
    """n − ⌈t·n⌉ + 1 equals the exact rational formula for set sizes up
    to 10⁷ and at the first sizes where the double form
    floor((1 − t)·n + 1e-9) + 1 came out one short: 31,457,280 at
    t = 0.8 and 62,914,560 at t = 0.9."""
    rng = random.Random(7)
    ns = list(range(1001)) + list(range(10**7 - 300, 10**7 + 1))
    ns += list(range(31_457_280 - 20, 31_457_280 + 60))
    ns += list(range(62_914_560 - 20, 62_914_560 + 60))
    ns += [rng.randrange(10**7) for _ in range(500)]
    got = dict(
        spark.createDataFrame([(n,) for n in ns], "n int")
        .select("n", prefix_length(F.col("n"), threshold).alias("p"))
        .collect()
    )
    t = Fraction(str(threshold))
    bad = {n: got[n] for n in ns if got[n] != n - math.ceil(t * n) + 1}
    assert not bad


@pytest.mark.parametrize("threshold", [0.5, 0.8, 0.85, 0.9, 0.95])
def test_jaccard_at_least_is_exact_at_the_threshold(spark, threshold):
    """J exactly t passes and J = t − 10⁻⁵ fails: the test is on the
    exact ratio, not on a rounded one (round(J, 4) would pass both)."""
    t = Fraction(str(threshold))
    union = 100_000
    cases = []
    for inter in (int(t * union), int(t * union) - 1, int(t * 20), int(t * 20) - 1):
        u = union if inter > 20 else 20
        a = inter + (u - inter) // 2
        cases.append((inter, a, u - a + inter))  # |A∩B|, |A|, |B|
    df = spark.createDataFrame(cases, "i int, a int, b int").select(
        "i", "a", "b",
        F.sequence(F.lit(1), F.col("a")).alias("sa"),
        F.sequence(F.col("a") - F.col("i") + 1, F.col("a") - F.col("i") + F.col("b")).alias("sb"),
    )
    got = {
        (r.i, r.a, r.b): r.ok
        for r in df.select("i", "a", "b", jaccard_at_least(F.col("sa"), F.col("sb"), threshold).alias("ok")).collect()
    }
    assert got == {(i, a, b): Fraction(i, a + b - i) >= t for i, a, b in cases}


_SUFFIXES = ["Inc", "Corp", "Group", "Labs"]


def _variant(name: str, kind: str, rng: random.Random) -> str:
    pos = rng.randrange(1, len(name))
    if kind == "suffix":
        return name + rng.choice(_SUFFIXES)
    if kind == "punct":
        return name[:pos] + rng.choice("-._") + name[pos:]
    if kind == "case":
        return name.upper()
    # typo: replace, drop or double one character
    op = rng.randrange(3)
    if op == 0:
        return name[:pos] + rng.choice("abcde") + name[pos + 1:]
    if op == 1:
        return name[:pos] + name[pos + 1:]
    return name[:pos] + name[pos] + name[pos:]


@st.composite
def _uri_sets(draw):
    """Entity URIs over a five-letter alphabet (so shingles overlap and
    Jaccard lands near every threshold) with suffix, punctuation, case
    and typo variants."""
    rng = random.Random(draw(st.integers(0, 2**32)))
    bases = draw(
        st.lists(st.text("abcde", min_size=3, max_size=12), min_size=1, max_size=10, unique=True)
    )
    uris = set()
    for b in bases:
        name = b.capitalize()
        uris.add(name)
        for kind in draw(st.lists(st.sampled_from(["suffix", "punct", "case", "typo"]), max_size=4)):
            uris.add(_variant(name, kind, rng))
    return sorted(BASE + u for u in uris)


def _reference_mapping(spark, uris, threshold):
    """Brute force: key tier, all-pairs Jaccard of the hashed shingle
    sets of the key representatives, union-find keeping the min URI."""
    ents = (
        with_canonical_key(spark.createDataFrame([(u,) for u in uris], "uri string"))
        .select("uri", "key", F.array_distinct(shingle_hash_col(F.col("shingles"))).alias("sh"))
        .collect()
    )
    rep: dict = {}
    for r in ents:
        rep[r.key] = min(rep.get(r.key, r.uri), r.uri)
    sets = {rep[r.key]: set(r.sh) for r in ents}
    parent = {u: u for u in sets}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    t = Fraction(str(threshold))
    reps = sorted(sets)
    for i, a in enumerate(reps):
        for b in reps[i + 1:]:
            if Fraction(len(sets[a] & sets[b]), len(sets[a] | sets[b])) >= t:
                ra, rb = sorted((find(a), find(b)))
                parent[rb] = ra
    return {r.uri: find(rep[r.key]) for r in ents}


_BOUNDARY_URIS = sorted(
    BASE + u
    for u in ["Abcdeabcd", "Abcdeabce", "Abcdeabcde", "AbcdeabcdInc", "Ab-cdeabcd",
              "Abcdabcd", "Badcab", "Badcabe", "Cabcab", "Cabcabc", "Edcba"]
)


@settings(max_examples=10, deadline=None)
@given(
    uris=_uri_sets(),
    threshold=st.sampled_from([0.5, 0.8, 0.85, 0.9]),
    max_bucket_size=st.sampled_from([1, 2, 200]),
)
@example(uris=_BOUNDARY_URIS, threshold=0.5, max_bucket_size=2)
@example(uris=_BOUNDARY_URIS, threshold=0.8, max_bucket_size=1)
@example(uris=_BOUNDARY_URIS, threshold=0.85, max_bucket_size=2)
@example(uris=_BOUNDARY_URIS, threshold=0.9, max_bucket_size=200)
def test_link_entities_matches_brute_force(spark, uris, threshold, max_bucket_size):
    """The prefix-group plan (chunked when max_bucket_size is tiny)
    links exactly the entities all-pairs verification links.  The
    first URI points at every other through an object, so both
    subjects and URI objects enter the universe."""
    triples = _triples(
        spark,
        [(uris[0], NS + "hasName", "x", 1.0, "d0", {}, 0, 0)]
        + [(uris[0], NS + "partneredWith", u, 1.0, "d0", {}, 0, i + 1) for i, u in enumerate(uris[1:])],
    )
    got = {
        r.uri: r.canonical
        for r in link_entities(
            triples, threshold=threshold, max_bucket_size=max_bucket_size
        ).collect()
    }
    assert got == _reference_mapping(spark, uris, threshold)


def test_chunked_prefix_groups_own_each_pair_once(spark):
    """Every candidate pair comes out of exactly one prefix group —
    also the pairs that share several prefix grams — with or
    without oversized buckets split into hash chunks, and the split
    buckets are reported."""
    rng = random.Random(3)
    names = {"".join(rng.choice("abcd") for _ in range(rng.randint(4, 9))) for _ in range(150)}
    ents = with_canonical_key(
        spark.createDataFrame([(BASE + n.capitalize(),) for n in names], "uri string")
    )

    def pair_bag(cap):
        rows = linking._prefix_rows(ents, 0.8, cap)
        return Counter(tuple(r) for r in linking._group_pairs(linking._prefix_groups(rows)).collect())

    whole = pair_bag(10_000)
    assert whole and set(whole.values()) == {1}
    assert pair_bag(3) == whole
    shared = (
        linking._prefix_rows(ents, 0.8, 10_000)
        .groupBy("id").agg(F.first("pre").alias("pre")).collect()
    )
    pre = {r.id: set(r.pre) for r in shared}
    assert any(len(pre[a] & pre[b]) > 1 for a, b in whole)
    _, report = prefix_candidate_pairs(ents, threshold=0.8, max_bucket_size=3)
    assert report.filter(F.col("n") > 3).count() == report.count() > 0


def _entity_triples(n_names: int, seed: int) -> list[tuple]:
    """Company names with suffix and typo variants: about 1.3 URIs per
    name, each the subject of one triple."""
    rng = random.Random(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    names = {"".join(rng.choice(letters) for _ in range(rng.randint(6, 12))).capitalize() for _ in range(n_names)}
    uris = set()
    for name in names:
        uris.add(name)
        if rng.random() < 0.3:
            uris.add(_variant(name, rng.choice(["suffix", "typo"]), rng))
    return [(BASE + u, NS + "hasName", u, 1.0, f"d{i}", {}, i, 0) for i, u in enumerate(sorted(uris))]


@pytest.mark.parametrize("n_names", [300, 1000])
def test_link_entities_and_mapping_write_job_count(spark, tmp_path, count_jobs, n_names):
    """Linking plus the mapping write stays a fixed, small number of
    Spark jobs below and above 1,000 entities: no count, no size
    dispatch, no persisted bucket table, no verify joins."""
    from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA

    spark.createDataFrame(_entity_triples(n_names, n_names), TRIPLE_SCHEMA).write.parquet(
        str(tmp_path / "s3")
    )
    s3 = spark.read.parquet(str(tmp_path / "s3"))
    assert (s3.count() > 1_000) == (n_names == 1000)
    _, jobs = count_jobs(lambda: link_entities(s3).write.parquet(str(tmp_path / "s4")))
    assert jobs <= 12
