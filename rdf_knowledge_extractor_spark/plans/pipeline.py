"""Staged KG-construction pipeline with checkpoint/resume + lineage.

North-rule requirements (BASELINE.json): explicit repartitioning
between extract / link / canonicalize stages, resumable from
checkpoint, per-partition lineage + metrics.

Design (Spark-first, not a port — the reference is one sequential
in-memory loop, ref:src/core/extractor.rs:199-208):

    pages ──text──► s1_text ──extract──► s2_extracted ──┬─► s3_triples
                                                        └─► lineage
    s3_triples ──link──► s4_mapping ──canonicalize──► s5_graph

Each stage materializes to a checkpoint table (parquet here; Iceberg
`MERGE INTO` partitioned by bucket(subject) in production — this repo
targets the sandbox where Iceberg jars aren't available, the layout
is identical).  A `_MANIFEST.json` per stage records row count,
wall-clock, the written schema and a params fingerprint; `resume=True`
skips any stage whose manifest matches the fingerprint.  Per-file row
counts (`partition_rows`, keyed by data file name) and their skew
(max / median) come from the parquet footers of the files just
written, read on the driver, and every re-read of a stage applies the
recorded schema — like Iceberg table metadata, the manifest carries
what the writer knew, so no Spark job runs just to rediscover it.
"""

from __future__ import annotations

import hashlib
import json
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from rdf_knowledge_extractor_spark.config import Configuration
from rdf_knowledge_extractor_spark.functions.extract import (
    extract_triples_stage,
    split_triples_and_lineage,
)
from rdf_knowledge_extractor_spark.functions.html_text import with_extracted_text
from rdf_knowledge_extractor_spark.operators.canonicalize import canonicalize_triples
from rdf_knowledge_extractor_spark.operators.dedup import merge_results
from rdf_knowledge_extractor_spark.operators.linking import link_entities
from rdf_knowledge_extractor_spark.plans.store import TripleStore, file_row_counts

GRAPH_BUCKETS = 64  # production: Iceberg PARTITIONED BY (bucket(N, subject))


@dataclass
class StageResult:
    name: str
    rows: int
    seconds: float
    partitions: int
    resumed: bool


class KgPipeline:
    def __init__(
        self,
        spark: SparkSession,
        config: Configuration,
        base_dir: str,
        client_kind: str = "stub",
        partitions: int | None = None,
    ):
        self.spark = spark
        self.config = config
        self.base = Path(base_dir)
        self.base.mkdir(parents=True, exist_ok=True)
        self.client_kind = client_kind
        self.partitions = partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        self.results: list[StageResult] = []

    # -- checkpoint plumbing -------------------------------------------
    def _config_hash(self) -> str:
        """Content hash of the FULL config (questions, schema, rules…) —
        editing extraction questions under the same config name must
        invalidate checkpoints."""
        import dataclasses

        blob = json.dumps(dataclasses.asdict(self.config), sort_keys=True, default=str)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    def _input_identity(self, pages: DataFrame) -> str:
        """Cheap content fingerprint of the input: row count + xor/sum of
        per-row xxhash64 over the identifying columns (one parallel agg
        job; order-independent)."""
        cols = [c for c in ("url", "doc_seq", "warc_ts") if c in pages.columns]
        if not cols:
            cols = pages.columns[:2]
        row = pages.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*cols)).alias("h"),  # xor-fold: overflow-free
        ).collect()[0]
        return f"{row['n']}:{row['h']}"

    def _fingerprint(self, stage: str, params: dict) -> str:
        blob = json.dumps(
            {
                "stage": stage,
                "config": self.config.name,
                "config_hash": self._config_hash(),
                "input": getattr(self, "_input_id", None),
                **params,
            },
            sort_keys=True,
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]

    def _manifest_path(self, stage: str) -> Path:
        return self.base / stage / "_MANIFEST.json"

    def _read_stage(self, stage: str, schema: dict) -> DataFrame:
        """A stage's output, read with its recorded schema (no
        inference job)."""
        return self.spark.read.schema(StructType.fromJson(schema)).parquet(
            str(self.base / stage / "data")
        )

    def _load_if_done(self, stage: str, fp: str) -> DataFrame | None:
        mp = self._manifest_path(stage)
        if mp.exists():
            manifest = json.loads(mp.read_text())
            # a manifest without a schema predates schema recording:
            # treat the stage as not done and recompute it
            if manifest.get("fingerprint") == fp and "schema" in manifest:
                return self._read_stage(stage, manifest["schema"])
        return None

    def _run_stage(
        self, stage: str, params: dict, build, resume: bool = True
    ) -> DataFrame:
        fp = self._fingerprint(stage, params)
        if resume:
            cached = self._load_if_done(stage, fp)
            if cached is not None:
                self.results.append(StageResult(stage, -1, 0.0, -1, True))
                return cached
        t0 = time.monotonic()
        df: DataFrame = build()
        out = str(self.base / stage / "data")
        df.write.mode("overwrite").parquet(out)
        schema = df.schema.jsonValue()
        # per-partition lineage: rows per written file, from the footers
        part_rows = file_row_counts(out)
        rows = sum(part_rows.values())
        median = statistics.median(part_rows.values()) if part_rows else 0
        elapsed = time.monotonic() - t0
        manifest = {
            "stage": stage,
            "fingerprint": fp,
            "rows": rows,
            "seconds": elapsed,
            "partitions": len(part_rows),
            "partition_rows": part_rows,
            # null when the median file is empty (no finite ratio)
            "partition_skew": max(part_rows.values()) / median if median else None,
            "schema": schema,
            "params": params,
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._manifest_path(stage).write_text(json.dumps(manifest, indent=2))
        self.results.append(StageResult(stage, rows, elapsed, len(part_rows), False))
        return self._read_stage(stage, schema)

    # -- the pipeline ----------------------------------------------------
    def run(
        self, pages: DataFrame, resume: bool = True, fused: bool = False
    ) -> DataFrame:
        """`fused=True` merges the text and extract stages into ONE
        mapInPandas (html crosses the Arrow boundary once — the
        production hot path; see extract_triples_stage(html_col=…)),
        trading away the standalone s1_text checkpoint.  Default keeps
        the two-stage shape so a text-only resume point exists."""
        n = self.partitions
        # input identity folds into every stage fingerprint: re-running on
        # different pages (or an edited config) recomputes instead of
        # silently returning a stale checkpoint
        self._input_id = self._input_identity(pages)

        if fused:
            s2 = self._run_stage(
                "s2_extracted",
                {"n": n, "client": self.client_kind, "fused": True},
                lambda: extract_triples_stage(
                    pages.repartition(n, "url"),
                    self.config,
                    self.client_kind,
                    html_col="html",
                ),
                resume,
            )
        else:
            s1 = self._run_stage(
                "s1_text",
                {"n": n},
                lambda: with_extracted_text(
                    pages.repartition(n, "url"), html_col="html", out_col="text"
                ).select("url", "doc_seq", "text", "lang"),
                resume,
            )

            s2 = self._run_stage(
                "s2_extracted",
                {"n": n, "client": self.client_kind},
                lambda: extract_triples_stage(s1, self.config, self.client_kind),
                resume,
            )

        triples, lineage = split_triples_and_lineage(s2)
        s3 = self._run_stage(
            "s3_triples",
            {"n": n},
            # explicit repartition on the dedup key before the global merge
            lambda: merge_results(
                triples.repartition(n, "subject", "predicate", "object"),
                deduplicate=self.config.post_processing.deduplicate,
            ),
            resume,
        )
        self._run_stage("s3_lineage", {"n": n}, lambda: lineage, resume)

        s4 = self._run_stage(
            "s4_mapping", {"n": n}, lambda: link_entities(s3), resume
        )

        s5 = self._run_stage(
            "s5_graph",
            {"n": n, "buckets": GRAPH_BUCKETS},
            lambda: canonicalize_triples(s3, s4)
            .withColumn(
                "subject_bucket", F.pmod(F.xxhash64("subject"), F.lit(GRAPH_BUCKETS))
            )
            .repartition(n, "subject_bucket"),
            resume,
        )
        return s5

    def commit_to_store(
        self, graph: DataFrame, store_root: str, batch_id: str | None = None
    ) -> int:
        """Materialize a pipeline result into the transactional
        `TripleStore` (plans/store.py): write-new-files + atomic
        manifest swap, idempotent per batch_id — the exactly-once
        insert the reference's `add_triples` implies
        (ref:src/knowledge_graph/mod.rs:91-114) held under crash/retry.
        Default batch_id is the run's input+config fingerprint, so
        re-running the same pipeline twice commits once."""
        bid = batch_id or self._fingerprint("store_commit", {})
        return TripleStore(self.spark, store_root).insert_if_absent(graph, bid)

    def lineage(self) -> DataFrame:
        manifest = json.loads(self._manifest_path("s3_lineage").read_text())
        return self._read_stage("s3_lineage", manifest["schema"])

    def stage_manifests(self) -> list[dict]:
        out = []
        for p in sorted(self.base.glob("*/_MANIFEST.json")):
            out.append(json.loads(p.read_text()))
        return out
