"""Output checks, run untimed after the timed window.  Each returns a
list of problems; an empty list means the check passed."""

from __future__ import annotations

from collections import Counter
from math import comb

from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.plans.store import TripleStore
from rdf_knowledge_extractor_spark.sources.pages import NAMESPACE

MIN_QUALITY = 0.95  # BASELINE.json: triple P/R >= 0.95


def pairwise_f1(mapping: dict[str, str], gold: dict[str, str]) -> float:
    """Pairwise F1 of a uri->canonical mapping against gold clusters,
    over the entities of the mapping (an entity the generator does not
    know is its own gold cluster)."""
    pred = Counter(mapping.values())
    truth = Counter(gold.get(u, u) for u in mapping)
    both = Counter((c, gold.get(u, u)) for u, c in mapping.items())
    tp = sum(comb(n, 2) for n in both.values())
    p_pairs = sum(comb(n, 2) for n in pred.values())
    t_pairs = sum(comb(n, 2) for n in truth.values())
    if p_pairs == 0 and t_pairs == 0:
        return 1.0
    if tp == 0:
        return 0.0
    precision, recall = tp / p_pairs, tp / t_pairs
    return 2 * precision * recall / (precision + recall)


def pipeline_outputs(spark, pipe, n_docs: int) -> list[str]:
    problems = []
    lineage = pipe.lineage()
    row = lineage.select(
        F.countDistinct("doc_seq").alias("docs"),
        F.sum(((F.col("n_triples") == 0) & (F.size("errors") == 0)).cast("int")).alias("empty"),
    ).first()
    if row["docs"] != n_docs or row["empty"]:
        problems.append(f"lineage covers {row['docs']}/{n_docs} documents, "
                        f"{row['empty']} with neither triples nor an error row")
    m = spark.read.parquet(str(pipe.base / "s4_mapping" / "data"))
    hop = m.alias("a").join(m.alias("b"), F.col("a.canonical") == F.col("b.uri"), "left")
    bad = hop.filter(F.col("b.canonical").isNull() | (F.col("b.canonical") != F.col("a.canonical"))).count()
    if bad:
        problems.append(f"linking mapping not idempotent on {bad} entities")
    graph = spark.read.parquet(str(pipe.base / "s5_graph" / "data"))
    dups = graph.groupBy("subject", "predicate", "object").count().filter("count > 1").count()
    if dups:
        problems.append(f"final graph has {dups} duplicate (s, p, o)")
    return problems


def store_idempotent(spark, root: str, added: int) -> list[str]:
    """Re-committing a committed batch_id adds 0 rows, and the store's
    total equals the sum of rows its commits added and the rows it
    reads back."""
    store = TripleStore(spark, root)
    before = store.total_rows()
    store.insert_if_absent(store.read(), store.batch_ids()[0])
    problems = []
    if store.total_rows() != before:
        problems.append(f"re-commit of a committed batch_id added {store.total_rows() - before} rows")
    read_back = store.read().count()
    if not before == added == read_back:
        problems.append(f"total_rows {before}, sum of rows added {added}, rows read {read_back}")
    return problems


def reads_match_duckdb(store: TripleStore, bgp: str) -> list[str]:
    """BGP, stats and N-Triples export on the store's final snapshot
    equal the same queries run by DuckDB over its parquet files."""
    import duckdb

    from rdf_knowledge_extractor_spark.operators.stats import graph_statistics
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql
    from rdf_knowledge_extractor_spark.sinks.serialization import ntriples_lines

    graph = store.read()
    files = [f"{p}/*.parquet" for p in store.committed_paths()]
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW g AS SELECT subject, predicate, object FROM read_parquet({files!r})")
        want_bgp = sorted(con.execute(
            "SELECT a.subject, a.object, b.object FROM g a JOIN g b ON a.object = b.subject "
            f"WHERE a.predicate = '{NAMESPACE}worksFor' AND b.predicate = '{NAMESPACE}locatedIn'"
        ).fetchall())
        want_stats = con.execute(
            "SELECT count(*), count(DISTINCT subject), count(DISTINCT predicate), "
            "count(DISTINCT object) FROM g").fetchone()
        want_nt = sorted(r[0] for r in con.execute(
            "SELECT '<' || subject || '> <' || predicate || '> ' || "
            "CASE WHEN starts_with(object, 'http://') OR starts_with(object, 'https://') "
            "THEN '<' || object || '>' ELSE '\"' || replace(object, '\"', '\\\"') || '\"' END "
            "|| ' .' FROM g").fetchall())
    finally:
        con.close()
    problems = []
    got_bgp = sorted(tuple(r) for r in execute_sparql(graph, bgp).select("person", "company", "city").collect())
    if got_bgp != want_bgp:
        problems.append(f"BGP rows {len(got_bgp)} differ from DuckDB's {len(want_bgp)}")
    s = graph_statistics(graph).first()
    got_stats = (s["total_triples"], s["unique_subjects"], s["unique_predicates"], s["unique_objects"])
    if got_stats != tuple(want_stats):
        problems.append(f"stats {got_stats} differ from DuckDB's {tuple(want_stats)}")
    got_nt = sorted(r[0] for r in ntriples_lines(graph).collect())
    if got_nt != want_nt:
        problems.append(f"N-Triples export ({len(got_nt)} lines) differs from DuckDB's ({len(want_nt)})")
    return problems
