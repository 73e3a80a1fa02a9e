"""SparkSession factory with scale-oriented defaults.

Tuned for the target deployment (1000-executor cluster over ~100 TB):
AQE on (runtime coalescing + skew-join splitting), Arrow transfer for
pandas UDFs, modest shuffle partitions for local test runs (override
via SPARK_GRAFT_SHUFFLE_PARTITIONS / cluster conf at scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "rdf-kg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst=true is the SPARK DEFAULT and measured
        # faster here (r6): AQE still coalesces tiny post-shuffle
        # stages, but only down to defaultParallelism — with the r5
        # override (false) a CPU-heavy small-bytes stage (e.g. the
        # 800k-row collect_list bucket aggregate of MinHash-LSH, or a
        # window over sessions) collapsed to ONE 64MB-advisory task
        # and serialized on a single core.  Same-session A/B at
        # sf1.0/local[32]: minhash 6.3→3.9 s, insert_new 1.30→0.92,
        # pipeline 4.7→3.6, every other headline query ≤; sf0.1 total
        # 8.33→7.00 s.  Scale-neutral: at real partition sizes the
        # advisory target dominates and the two settings coincide.
        # default=false disables AQE on persisted plans — the linking /
        # connected-components stages cache aggressively and would lose
        # post-shuffle coalescing entirely without this
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Codegen sizing, tuned as a PAIR (measured on the text-metric
        # scan and the MinHash sketch path):
        # - hugeMethodLimit=8000: fall back to interpreted (CSE'd) eval
        #   when a whole-stage method exceeds the JVM JIT's 8 KB
        #   compile limit — Spark's default (65535) happily emits
        #   methods HotSpot refuses to compile, leaving wide
        #   projections running in the BYTECODE interpreter (3.5×
        #   slower, ~flat from 1→4 cores on the language-ID scan).
        # - methodSplitThreshold=512: split generated code into
        #   smaller methods aggressively so splittable stages (e.g.
        #   shingle hashing) stay UNDER the 8 KB limit and keep
        #   whole-stage codegen — with the fallback alone the MinHash
        #   path lost 25%; combined, both workloads hit their best.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.sql.codegen.methodSplitThreshold", "512")
        # Codegen cache (static; Spark's default is 100 entries): one
        # pipeline pass generates ~130 distinct classes, so the default
        # LRU evicted them before the next pass and every pass
        # recompiled them (Janino, then the JIT again).  A repeated
        # 30-page stub pass + store commit on local[4]: 123 compiles at
        # 100 entries, 1 at 2000.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
