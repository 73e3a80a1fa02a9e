"""Staged pipeline: end-to-end run, checkpoint resume, lineage."""

from __future__ import annotations

import json
import statistics

from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.plans.pipeline import KgPipeline
from rdf_knowledge_extractor_spark.sources.pages import pages_dataframe


def test_pipeline_run_and_resume(spark, example_config, tmp_path):
    pages = pages_dataframe(spark, 30, seed=42).drop("text")

    pipe = KgPipeline(spark, example_config, str(tmp_path), partitions=4)
    graph = pipe.run(pages)
    n1 = graph.count()
    assert n1 > 0
    assert not any(r.resumed for r in pipe.results)

    # canonicalization merged alias entities: canonical subjects only
    subjects = [r.subject for r in graph.select("subject").distinct().collect()]
    assert all(s.startswith("http://") for s in subjects)

    # lineage covers every page
    assert pipe.lineage().count() == 30

    # manifests written with per-partition rows
    manifests = {m["stage"]: m for m in pipe.stage_manifests()}
    assert set(manifests) == {
        "s1_text", "s2_extracted", "s3_triples", "s3_lineage", "s4_mapping", "s5_graph"
    }
    assert manifests["s5_graph"]["rows"] == n1
    assert sum(manifests["s5_graph"]["partition_rows"].values()) == n1
    # per-file footer rows keyed by file name, skew = max / median
    for m in manifests.values():
        counts = m["partition_rows"]
        assert all(k.endswith(".parquet") for k in counts)
        assert m["partitions"] == len(counts)
        median = statistics.median(counts.values())
        assert m["partition_skew"] == (max(counts.values()) / median if median else None)

    # resume: a fresh pipeline over the same dir skips every stage
    pipe2 = KgPipeline(spark, example_config, str(tmp_path), partitions=4)
    graph2 = pipe2.run(pages)
    assert all(r.resumed for r in pipe2.results)
    assert graph2.count() == n1

    # changing a stage param invalidates the fingerprint → recompute
    pipe3 = KgPipeline(spark, example_config, str(tmp_path), partitions=8)
    pipe3.run(pages)
    assert not any(r.resumed for r in pipe3.results)


def test_pipeline_graph_is_canonicalized(spark, example_config, tmp_path):
    pages = pages_dataframe(spark, 30, seed=42).drop("text")
    pipe = KgPipeline(spark, example_config, str(tmp_path / "p"), partitions=4)
    graph = pipe.run(pages)
    # no two distinct subject URIs share a canonical key after the remap
    from rdf_knowledge_extractor_spark.operators.linking import with_canonical_key

    ent = with_canonical_key(graph.select(F.col("subject").alias("uri")).distinct())
    dup_keys = (
        ent.groupBy("key").agg(F.countDistinct("uri").alias("n")).filter("n > 1")
    )
    assert dup_keys.count() == 0


def test_zip_with_ordinal_matches_global_sort(spark):
    from pyspark.sql import functions as F

    from rdf_knowledge_extractor_spark.operators.ordinal import zip_with_ordinal

    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("doc_seq"), F.col("id").alias("triple_seq")
    )
    out = zip_with_ordinal(df, ["doc_seq", "triple_seq"], out_col="i")
    rows = out.orderBy("i").collect()
    expected = sorted(
        [(r["doc_seq"], r["triple_seq"]) for r in rows],
        key=lambda t: (t[0], t[1]),
    )
    assert [(r["doc_seq"], r["triple_seq"]) for r in rows] == expected
    assert [r["i"] for r in rows] == list(range(1000))


def test_validation_issues_plan_has_no_global_sort_exchange(spark):
    """The diagnostic ordinal must not gather the table into one task:
    no SinglePartition exchange in the physical plan (VERDICT fix #2)."""
    from rdf_knowledge_extractor_spark.operators.validate import validation_issues
    from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA

    df = spark.createDataFrame(
        [(f"s{i}", "p", "o", 1.0, None, {}, i // 10, i % 10) for i in range(100)],
        TRIPLE_SCHEMA,
    )
    issues = validation_issues(df)
    plan = issues._jdf.queryExecution().executedPlan().toString()
    # the final tiny orderBy("idx") on the issue rows is allowed to be a
    # rangepartitioning sort; what must NOT appear is a single-partition
    # window exchange feeding row_number over the whole input
    assert "Exchange SinglePartition" not in plan
    got = [r["issue"] for r in issues.collect()]
    assert len(got) == 200  # invalid subject + invalid predicate per row
    assert got[0] == "Triple 0: Invalid subject URI: s0"


def test_pipeline_fingerprint_covers_input_and_config(spark, tmp_path):
    """Rerunning on different pages or an edited config must NOT resume
    from the stale checkpoint (ADVICE fix)."""
    import copy

    from rdf_knowledge_extractor_spark.config import Configuration
    from rdf_knowledge_extractor_spark.plans.pipeline import KgPipeline

    cfg = Configuration.example()
    pages1 = spark.createDataFrame(
        [("https://x/a", b"<html><body>Acme Corp is led by Jane Doe, who serves as CEO.</body></html>", 0)],
        "url string, html binary, doc_seq long",
    ).withColumn("lang", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("en"))
    pipe = KgPipeline(spark, cfg, str(tmp_path / "ckpt"), partitions=2)
    pipe.run(pages1)
    assert all(not r.resumed for r in pipe.results)

    # same input, same config → all stages resume
    pipe2 = KgPipeline(spark, cfg, str(tmp_path / "ckpt"), partitions=2)
    pipe2.run(pages1)
    assert all(r.resumed for r in pipe2.results)

    # different input under the same config name → recompute
    pages2 = pages1.withColumn(
        "url", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("https://x/b")
    )
    pipe3 = KgPipeline(spark, cfg, str(tmp_path / "ckpt"), partitions=2)
    pipe3.run(pages2)
    assert not any(r.resumed for r in pipe3.results)

    # edited question under the same config name → recompute
    cfg2 = copy.deepcopy(cfg)
    cfg2.extraction_questions[0].question = "What partnerships are mentioned?"
    pipe4 = KgPipeline(spark, cfg2, str(tmp_path / "ckpt"), partitions=2)
    pipe4.run(pages2)
    assert not any(r.resumed for r in pipe4.results)


def test_pipeline_fused_matches_two_stage(spark, tmp_path):
    from pyspark.sql import functions as F

    from rdf_knowledge_extractor_spark.config import Configuration
    from rdf_knowledge_extractor_spark.plans.pipeline import KgPipeline
    from rdf_knowledge_extractor_spark.sources.pages import pages_dataframe

    cfg = Configuration.example()
    pages = pages_dataframe(spark, 30, seed=5).drop("text")
    g1 = KgPipeline(spark, cfg, str(tmp_path / "a"), partitions=2).run(pages)
    g2 = KgPipeline(spark, cfg, str(tmp_path / "b"), partitions=2).run(
        pages, fused=True
    )
    cols = ["subject", "predicate", "object"]
    a = sorted(tuple(r[c] for c in cols) for r in g1.select(cols).collect())
    b = sorted(tuple(r[c] for c in cols) for r in g2.select(cols).collect())
    assert a == b and len(a) > 0


def test_pipeline_commit_to_store_idempotent(spark, example_config, tmp_path):
    """Pipeline → TripleStore commit: re-running the identical pipeline
    commits once (fingerprint batch key), and the store holds exactly
    the graph rows."""
    from rdf_knowledge_extractor_spark.plans.pipeline import KgPipeline
    from rdf_knowledge_extractor_spark.plans.store import TripleStore
    from rdf_knowledge_extractor_spark.sources.pages import pages_dataframe

    pages = pages_dataframe(spark, 10, seed=7)
    pipe = KgPipeline(spark, example_config, str(tmp_path / "ck"), partitions=4)
    graph = pipe.run(pages)
    n = graph.count()
    store_root = str(tmp_path / "kgstore")
    added = pipe.commit_to_store(graph, store_root)
    assert added == n > 0

    # identical rerun (resume path) → same fingerprint → no-op commit
    pipe2 = KgPipeline(spark, example_config, str(tmp_path / "ck"), partitions=4)
    graph2 = pipe2.run(pages)
    assert pipe2.commit_to_store(graph2, store_root) == added
    assert TripleStore(spark, store_root).read().count() == n


def test_pyfiles_zip_is_reproducible_and_complete(tmp_path):
    """spark-submit packaging (tools/make_pyfiles.py): byte-identical
    rebuilds, package-only contents, importable module set."""
    import sys
    import zipfile

    sys.path.insert(0, "tools")
    try:
        from make_pyfiles import build
    finally:
        sys.path.pop(0)

    z1 = build(str(tmp_path / "a.zip"))
    z2 = build(str(tmp_path / "b.zip"))
    assert open(z1, "rb").read() == open(z2, "rb").read()
    names = zipfile.ZipFile(z1).namelist()
    assert all(n.startswith("rdf_knowledge_extractor_spark/") for n in names)
    assert "rdf_knowledge_extractor_spark/plans/store.py" in names
    assert not any("__pycache__" in n or n.endswith(".pyc") for n in names)


# -- stage metadata from the manifest, not from Spark jobs ---------------

def _stage_df(spark):
    """Non-nullable and nested fields: the parquet round trip makes
    every level nullable, and the recorded-schema read must agree."""
    return spark.range(40).select(
        F.col("id"),
        F.concat(F.lit("e"), F.col("id").cast("string")).alias("name"),
        F.array(F.col("id"), F.lit(1)).alias("ids"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("nested"),
    ).repartition(3)


def test_run_stage_submits_only_its_write_jobs(spark, example_config, tmp_path, count_jobs):
    df = _stage_df(spark)
    _, write_jobs = count_jobs(
        lambda: df.write.mode("overwrite").parquet(str(tmp_path / "plain"))
    )
    pipe = KgPipeline(spark, example_config, str(tmp_path / "ck"), partitions=3)
    out, jobs = count_jobs(lambda: pipe._run_stage("t", {}, lambda: df))
    assert jobs == write_jobs > 0
    # the recorded-schema re-read equals what inference gives
    inferred = spark.read.parquet(str(tmp_path / "ck" / "t" / "data"))
    assert out.schema == inferred.schema
    assert sorted(out.collect()) == sorted(inferred.collect())
    assert pipe.results[-1].rows == 40


def test_pipeline_resume_submits_only_input_identity_jobs(
    spark, example_config, tmp_path, count_jobs
):
    pages = pages_dataframe(spark, 10, seed=11).drop("text")
    ck = str(tmp_path / "ck")
    graph = KgPipeline(spark, example_config, ck, partitions=2).run(pages, fused=True)
    n = graph.count()

    pipe = KgPipeline(spark, example_config, ck, partitions=2)
    _, identity_jobs = count_jobs(lambda: pipe._input_identity(pages))
    graph2, jobs = count_jobs(lambda: pipe.run(pages, fused=True))
    assert all(r.resumed for r in pipe.results)
    assert jobs == identity_jobs > 0
    assert graph2.count() == n
    # every stage re-read has the schema inference would give
    for m in pipe.stage_manifests():
        path = str(tmp_path / "ck" / m["stage"] / "data")
        assert pipe._read_stage(m["stage"], m["schema"]).schema == (
            spark.read.parquet(path).schema
        )


def test_pipeline_old_manifest_without_schema_recomputes(spark, example_config, tmp_path):
    """A stage manifest written before schemas were recorded counts as
    not done: the stage recomputes and its manifest gains a schema."""
    pages = pages_dataframe(spark, 10, seed=12).drop("text")
    ck = tmp_path / "ck"
    KgPipeline(spark, example_config, str(ck), partitions=2).run(pages, fused=True)
    for mp in ck.glob("*/_MANIFEST.json"):
        m = json.loads(mp.read_text())
        # the old format: pid-keyed partition_rows, no schema, no skew
        mp.write_text(json.dumps({
            "stage": m["stage"],
            "fingerprint": m["fingerprint"],
            "rows": m["rows"],
            "seconds": m["seconds"],
            "partitions": 1,
            "partition_rows": {"0": m["rows"]},
            "params": m["params"],
            "ts": m["ts"],
        }))

    pipe = KgPipeline(spark, example_config, str(ck), partitions=2)
    pipe.run(pages, fused=True)
    assert pipe.results and not any(r.resumed for r in pipe.results)
    assert all("schema" in m for m in pipe.stage_manifests())
    assert pipe.lineage().count() == 10


def test_repeated_pipeline_pass_reuses_generated_code(spark, example_config, tmp_path):
    """One pipeline pass generates more classes than Spark's default
    codegen cache holds (100); the session's cache keeps them, so an
    identical second pass compiles almost nothing."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    pages = pages_dataframe(spark, 20, seed=5).drop("text")

    def compiles_in_pass(i):
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        pipe = KgPipeline(spark, example_config, str(tmp_path / f"p{i}"), partitions=4)
        pipe.commit_to_store(pipe.run(pages), str(tmp_path / f"store{i}"))
        return codegen.METRIC_COMPILATION_TIME().getCount() - before

    compiles_in_pass(0)
    assert compiles_in_pass(1) <= 20
