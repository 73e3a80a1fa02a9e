"""The benchmark workloads.

Each workload builds its inputs from the seed during set-up, warms the
engine up untimed, then runs its timed operation in a closed loop with
one client:

- `entities_link`: one operation is `KgPipeline.run(pages, fused=True)`
  followed by `commit_to_store`, as examples/submit_pipeline.py does,
  over short pages whose entity universe grows with the page count.
  Extraction goes over HTTP to a localhost fake endpoint with a fixed
  reply delay, which answers a seeded 2 % of documents with malformed
  JSON.  Linking, components and canonicalize do most of the work.
- `graph_serve`: alternates `TripleStore.insert_if_absent` of a
  pre-generated batch with one of four reads on `TripleStore.read()`.

The traced run (`traced`) drives the inputs through each layer's
public function on its own, inside a span, with each layer's output
forced to its stage parquet table (or the noop sink), and reports the
per-layer metrics.
"""

from __future__ import annotations

import json
import random
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from rdf_knowledge_extractor_spark.config import Configuration, RdfSchema
from rdf_knowledge_extractor_spark.plans.pipeline import GRAPH_BUCKETS, KgPipeline
from rdf_knowledge_extractor_spark.plans.store import TripleStore
from rdf_knowledge_extractor_spark.sources.pages import BASE_URI, NAMESPACE

from perfbench import checks, corpora
from perfbench.fake_llm import doc_hash
from perfbench.trace import Tracer

HERE = Path(__file__).resolve().parent

# Input sizes at --scale 1.
SIZES = {
    "entities_link": {"pages": 400, "delay_ms": 5.0, "malformed_share": 0.02},
    "graph_serve": {"seed_pages": 1000, "bulk_triples": 20000, "batches": 100,
                    "batch_new": 240, "batch_old": 60, "delay_ms": 5.0},
}
WARMUP_SHARE = 0.25  # warm-up pass input, as a share of the timed input
READS = ("bgp", "stats", "traverse", "export")
READ_LAYER = {"bgp": "sparql", "stats": "stats", "traverse": "traversal", "export": "serialization"}
BGP = (f"SELECT ?person ?company ?city WHERE {{ ?person <{NAMESPACE}worksFor> ?company . "
       f"?company <{NAMESPACE}locatedIn> ?city . }}")
PAGES_SCHEMA = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("html", pa.binary()), ("lang", pa.string()), ("doc_seq", pa.int64())])
# the store rows graph_serve writes; first-occurrence dedup orders on
# (doc_seq, triple_seq), so both are kept
SERVE_SCHEMA = pa.schema([("subject", pa.string()), ("predicate", pa.string()),
                          ("object", pa.string()), ("source", pa.string()),
                          ("doc_seq", pa.int64()), ("triple_seq", pa.int32()),
                          ("batch", pa.int32())])


def config() -> Configuration:
    cfg = Configuration.example()
    cfg.rdf_schema = RdfSchema(
        namespace=NAMESPACE, prefix="biz", base_uri=BASE_URI,
        predicates={p: p for p in ("hasName", "hasRole", "worksFor", "locatedIn", "partneredWith")},
    )
    return cfg


def write_table(rows: list[tuple], schema: pa.Schema, out: Path, n_files: int) -> None:
    """Rows -> a parquet table of `n_files` files."""
    out.mkdir(parents=True)
    step = -(-len(rows) // n_files)
    for k in range(0, len(rows), step):
        cols = list(zip(*rows[k : k + step]))
        table = pa.Table.from_arrays([pa.array(c, t) for c, t in zip(cols, schema.types)], schema=schema)
        pq.write_table(table, out / f"part-{k // step:05d}.parquet")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def timed(fn, *args) -> tuple[object, float]:
    t = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t


class FakeLlm:
    """The fake endpoint (fake_llm.py) as a child process."""

    def __init__(self, malformed: Path, delay_ms: float):
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "fake_llm.py"), "--delay-ms", str(delay_ms),
             "--malformed", str(malformed)],
            stdout=subprocess.PIPE, text=True,
        )
        self.url = f"http://127.0.0.1:{int(self.proc.stdout.readline())}"

    def _call(self, path: str, data: bytes | None = None) -> dict:
        with urllib.request.urlopen(self.url + path, data=data, timeout=10) as resp:
            return json.loads(resp.read())

    def reset(self) -> None:
        self._call("/reset", b"")

    def stats(self) -> dict:
        return self._call("/stats")

    def close(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


class Workload:
    """Shared plumbing: a work directory, the engine config, the sizes,
    and the fake LLM endpoint the pipeline's extract stage calls."""

    name = ""
    server: FakeLlm | None = None

    def __init__(self, spark, work: Path, seed: int, nproc: int, scale: float):
        self.spark, self.work, self.seed, self.nproc = spark, work, seed, nproc
        self.cfg = config()
        self.size = {k: (max(8, int(v * scale)) if isinstance(v, int) else v)
                     for k, v in SIZES[self.name].items()}

    def scratch(self, name: str) -> Path:
        p = self.work / name
        shutil.rmtree(p, ignore_errors=True)
        return p

    def start_llm(self, malformed_texts: list[str]) -> None:
        hashes = self.work / "malformed.txt"
        hashes.write_text("".join(doc_hash(t) + "\n" for t in malformed_texts))
        self.server = FakeLlm(hashes, self.size["delay_ms"])
        self.cfg.llm_settings.base_url = self.server.url
        self.cfg.llm_settings.timeout = 60

    def write_pages(self, corpus: corpora.Corpus, name: str):
        out = self.scratch(name)
        write_table(corpus.rows, PAGES_SCHEMA, out, self.nproc)
        return self.spark.read.parquet(str(out))

    def run_pass(self, pages, tag: str) -> tuple[KgPipeline, float]:
        """One pipeline operation: run + commit_to_store; its outputs
        stay under work/<tag>."""
        base = self.scratch(tag)
        pipe = KgPipeline(self.spark, self.cfg, str(base / "ckpt"), client_kind="http")
        t = time.perf_counter()
        graph = pipe.run(pages, fused=True)
        self.pass_added = pipe.commit_to_store(graph, str(base / "store"))
        return pipe, time.perf_counter() - t

    def pipeline_metrics(self, pipe: KgPipeline, pages, wall: float) -> dict:
        """`pipeline.*` from one pass's stage results."""
        stage_s = {r.name: r.seconds for r in pipe.results}
        out = {f"pipeline.{k}_s": stage_s.get(k) for k in
               ("s2_extracted", "s3_triples", "s3_lineage", "s4_mapping", "s5_graph")}
        identity = getattr(pipe, "_input_identity", None)
        out["pipeline.input_identity_s"] = timed(identity, pages)[1] if identity else None
        out["pipeline.overhead_s"] = wall - sum(stage_s.values())
        return out

    def close(self) -> None:
        if self.server is not None:
            self.server.close()


# ---------------------------------------------------------------------------
# entities_link
# ---------------------------------------------------------------------------


class EntitiesLink(Workload):
    name = "entities_link"

    def build_inputs(self) -> float:
        """Generate the corpus and write the pages table; returns seconds."""
        t = time.perf_counter()
        n = self.size["pages"]
        self.data = corpora.entity_corpus(n, self.seed)
        self.pages = self.write_pages(self.data, "pages")
        self.malformed = set(random.Random(self.seed).sample(range(n), round(n * self.size["malformed_share"])))
        return time.perf_counter() - t

    def warm_up(self) -> None:
        self.start_llm([self.data.texts[i] for i in sorted(self.malformed)])
        n = max(8, int(self.size["pages"] * WARMUP_SHARE))
        self.run_pass(self.write_pages(corpora.entity_corpus(n, self.seed + 1), "warm_pages"), "warm")

    def measure(self, seconds: float) -> dict:
        """Passes while the window lasts; each runs to its end."""
        self.server.reset()
        walls: list[float] = []
        failed = 0
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end:
            try:
                self.last, wall = self.run_pass(self.pages, f"pass{len(walls) % 2}")
                walls.append(wall)
            except Exception as e:  # noqa: BLE001 -- a failed pass is counted, the loop goes on
                failed += 1
                print(f"pass failed: {e!r}", file=sys.stderr)
        if not walls:
            raise RuntimeError("no pipeline pass completed")
        self.passes = (len(walls), failed)
        n = self.size["pages"]
        return {
            "attempted": len(walls) + failed,
            "failed": failed,
            "items": n * len(walls),
            "ops": len(walls),
            "items_per_s": statistics.median(n / w for w in walls),
            "op_p50_ms": statistics.median(walls) * 1000.0,
            "report": {
                "pages_per_s": (statistics.median(n / w for w in walls), "pages/s"),
                "passes": (len(walls), "count"),
                "llm_requests": (self.server.stats()["requests"], "count"),
            },
        }

    def quality(self) -> dict:
        """Gold comparison of the last pass.  A malformed reply loses
        that document's triples by design, so gold leaves them out."""
        base = self.last.base
        got = {tuple(r) for r in self.spark.read.parquet(str(base / "s3_triples" / "data"))
               .select("subject", "predicate", "object").collect()}
        gold = self.data.gold(skip=self.malformed)
        tp = len(got & gold)
        mapping = {r.uri: r.canonical for r in
                   self.spark.read.parquet(str(base / "s4_mapping" / "data")).collect()}
        error_docs = self.last.lineage().filter(
            (F.col("n_triples") == 0) & (F.size("errors") > 0)).count()
        ok, aborted = self.passes  # an aborted pass fails every document
        return {
            "triple_precision": (tp / len(got) if got else 0.0, "ratio"),
            "triple_recall": (tp / len(gold) if gold else 0.0, "ratio"),
            "link_f1": (checks.pairwise_f1(mapping, self.data.clusters), "ratio"),
            "failed_ratio": ((error_docs * ok + self.size["pages"] * aborted)
                             / (self.size["pages"] * (ok + aborted)), "ratio"),
        }

    def check(self, quality: dict) -> list[str]:
        problems = checks.pipeline_outputs(self.spark, self.last, self.size["pages"])
        problems += checks.store_idempotent(self.spark, str(self.last.base.parent / "store"),
                                            self.pass_added)
        for name in ("triple_precision", "triple_recall", "link_f1"):
            if quality[name][0] < checks.MIN_QUALITY:
                problems.append(f"{name} {quality[name][0]:.4f} < {checks.MIN_QUALITY}")
        errs = {r.doc_seq for r in self.last.lineage().filter(F.size("errors") > 0)
                .select("doc_seq").collect()}
        if errs != self.malformed:
            problems.append(f"{len(errs)} documents with error rows, "
                            f"{len(self.malformed)} malformed replies sent")
        return problems

    def traced(self, tracer: Tracer, seconds: float) -> dict:
        with tracer.span("pipeline"):
            pipe, pass_wall = self.run_pass(self.pages, "pass0")
        out = self.pipeline_metrics(pipe, self.pages, pass_wall)
        chain = TracedChain(self, tracer)
        with tracer.span("section") as sec:
            chain.run(self.pages)
        out.update(chain.metrics())
        store = TripleStore(self.spark, str(chain.store_root))
        with tracer.span("section") as reads:
            read_ms = {kind: [read_span(tracer, kind, store, chain.hot)] for kind in READS}
        out.update(read_metrics(store, read_ms, chain.hot))
        out["trace.overhead_s"] = tracer.wall(sec) - pass_wall
        out["_sections"] = [sec, reads]
        return out


# ---------------------------------------------------------------------------
# the traced layer chain (every workload's traced run)
# ---------------------------------------------------------------------------


class TracedChain:
    """html_text -> extract -> dedup -> linking (components) ->
    canonicalize -> store: each layer's public function called on its
    own inside a span, its output forced to a stage parquet table.
    Counts are taken after the chain, outside its spans."""

    def __init__(self, wl: Workload, tracer: Tracer):
        self.wl, self.tracer, self.spark = wl, tracer, wl.spark
        self.base = wl.scratch("chain")
        self.store_root = self.base / "store"
        self.walls: dict[str, float] = {}
        self.edges = None

    def stage(self, name: str, df):
        path = str(self.base / name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def layer(self, name: str, fn, *args, **kwargs):
        with self.tracer.span(name) as s:
            out = fn(*args, **kwargs)
        self.walls[name] = self.walls.get(name, 0.0) + self.tracer.wall(s)
        return out

    def run(self, pages) -> None:
        from rdf_knowledge_extractor_spark.functions.extract import (
            extract_triples_stage,
            split_triples_and_lineage,
        )
        from rdf_knowledge_extractor_spark.functions.html_text import with_extracted_text
        from rdf_knowledge_extractor_spark.operators import linking
        from rdf_knowledge_extractor_spark.operators.canonicalize import canonicalize_triples
        from rdf_knowledge_extractor_spark.operators.dedup import merge_results

        n, cfg, server = self.wl.nproc * 2, self.wl.cfg, self.wl.server
        self.pages = pages
        self.s1 = self.layer("html_text", lambda: self.stage(
            "s1_text", with_extracted_text(pages.repartition(n, "url")).select("url", "doc_seq", "text", "lang")))
        server.reset()
        self.s2 = self.layer("extract", lambda: self.stage(
            "s2_extracted", extract_triples_stage(self.s1, cfg, "http")))
        self.llm = server.stats()
        self.s3 = self.layer("dedup", lambda: self.stage("s3_triples", merge_results(
            split_triples_and_lineage(self.s2)[0].repartition(n, "subject", "predicate", "object"),
            deduplicate=cfg.post_processing.deduplicate)))

        # components runs as a child span of linking: the name
        # link_entities resolves at call time is wrapped for the call.
        # The edge list is materialized first, so candidate generation
        # and verification stay in linking's own time.
        orig = getattr(linking, "connected_components", None)

        def traced_components(edges, *a, **k):
            self.edges = edges.persist()
            self.edges.count()
            return self.layer("components", orig, self.edges, *a, **k)

        if orig is not None:
            linking.connected_components = traced_components
        try:
            self.s4 = self.layer("linking", lambda: self.stage("s4_mapping", linking.link_entities(self.s3)))
        finally:
            if orig is not None:
                linking.connected_components = orig
        self.s5 = self.layer("canonicalize", lambda: self.stage("s5_graph", canonicalize_triples(
            self.s3, self.s4).withColumn("subject_bucket",
                                         F.pmod(F.xxhash64("subject"), F.lit(GRAPH_BUCKETS)))))
        store = TripleStore(self.spark, str(self.store_root))
        self.added = self.layer("store", store.insert_if_absent, self.s5, "chain")
        self.hot = hot_entity(self.s5)

    def metrics(self) -> dict:
        w = self.walls
        html_mb = self.pages.select(F.sum(F.length("html"))).first()[0] / 1e6
        docs, rows, errors = self.s2.select(
            F.countDistinct("doc_seq"), F.count(F.lit(1)),
            F.coalesce(F.sum(F.col("error").isNotNull().cast("int")), F.lit(0))).first()
        s3_rows, s5_rows = self.s3.count(), self.s5.count()
        edges = None
        if self.edges is not None:
            edges = self.edges.count()
            self.edges.unpersist()
        m = {
            "html_text.busy_s": w["html_text"], "html_text.mb_per_s": html_mb / w["html_text"],
            "extract.busy_s": w["extract"], "extract.docs": docs, "extract.rows_out": rows,
            "extract.error_rows": errors,
            **{f"llm.{k}": v for k, v in self.llm.items()},
            "dedup.busy_s": w["dedup"], "dedup.rows_in": rows - errors, "dedup.rows_out": s3_rows,
            "linking.busy_s": w["linking"] - w.get("components", 0.0),
            "linking.entities": self.s4.count(),
            "linking.clusters": self.s4.select("canonical").distinct().count(),
            "components.busy_s": w.get("components"), "components.edges": edges,
            "components.driver_arm": driver_arm(edges),
            "canonicalize.busy_s": w["canonicalize"], "canonicalize.rows_in": s3_rows,
            "canonicalize.rows_out": s5_rows,
            "store.rows_offered": s5_rows, "store.rows_added": self.added,
            "store.commit_s": w["store"],
        }
        m.update(linking_counts(self.s3))
        m.update(store_metrics(TripleStore(self.spark, str(self.store_root))))
        return m


def linking_counts(s3) -> dict:
    """Candidate pairs and verified edges over the entity universe of the
    s3 table, from linking's public functions.  Unlike link_entities,
    which collapses equal keys first, this counts key-equal pairs too.
    A name a later change removed makes the metrics missing (None)."""
    from rdf_knowledge_extractor_spark.operators import linking

    try:
        ent = linking.with_canonical_key(linking.entity_universe(s3)).persist()
        pairs = linking.prefix_candidate_pairs(ent, rank_prefixes=ent.count() > 1_000)[0].persist()
        cand = pairs.count()
        verified = linking.verified_edges(pairs, ent).filter(F.col("uri_a") != F.col("uri_b")).count()
    except (AttributeError, TypeError) as e:
        print(f"linking counters missing: {e!r}", file=sys.stderr)
        return {"linking.candidate_pairs": None, "linking.verified_edges": None,
                "linking.pair_quality": None}
    ent.unpersist()
    pairs.unpersist()
    return {"linking.candidate_pairs": cand, "linking.verified_edges": verified,
            "linking.pair_quality": verified / cand if cand else 1.0}


def driver_arm(edges: int | None) -> int | None:
    """1 when an edge count lands on the driver-side arm of the
    components/traversal size dispatch, 0 on the distributed arm."""
    try:
        from rdf_knowledge_extractor_spark.operators.components import _DRIVER_MAX_EDGES
    except ImportError:
        return None
    return None if edges is None else int(edges <= _DRIVER_MAX_EDGES)


def hot_entity(graph) -> str:
    """The subject with the most URI-object edges: the traversal seed."""
    return (graph.filter(F.col("object").startswith("http")).groupBy("subject").count()
            .orderBy(F.desc("count"), "subject").first()["subject"])


def store_metrics(store: TripleStore) -> dict:
    files = [f for p in store.committed_paths() for f in Path(p).glob("*.parquet")]
    return {"store.files": len(files),
            "store.read_s": statistics.median(timed(store.read)[1] for _ in range(3)),
            "store.bytes_written": sum(f.stat().st_size for f in files) / 1e6}


# ---------------------------------------------------------------------------
# reads
# ---------------------------------------------------------------------------


def do_read(kind: str, store: TripleStore, seed_entity: str) -> int:
    """One read on the store's current snapshot; returns its result size."""
    from rdf_knowledge_extractor_spark.operators.stats import graph_statistics
    from rdf_knowledge_extractor_spark.operators.traversal import find_related_entities
    from rdf_knowledge_extractor_spark.query.sparql import execute_sparql
    from rdf_knowledge_extractor_spark.sinks.serialization import ntriples_lines

    graph = store.read()
    if kind == "bgp":
        return len(execute_sparql(graph, BGP).collect())
    if kind == "stats":
        return graph_statistics(graph).collect()[0]["total_triples"]
    if kind == "traverse":
        return len(find_related_entities(graph, seed_entity, 2).collect())
    ntriples_lines(graph).write.format("noop").mode("overwrite").save()
    return store.total_rows()


def read_span(tracer: Tracer, kind: str, store: TripleStore, seed_entity: str) -> float:
    with tracer.span(READ_LAYER[kind]) as s:
        do_read(kind, store, seed_entity)
    return tracer.wall(s) * 1000.0


def read_metrics(store: TripleStore, read_ms: dict, seed_entity: str) -> dict:
    return {
        "sparql.bgp_ms": statistics.median(read_ms["bgp"]),
        "sparql.rows": do_read("bgp", store, seed_entity),
        "stats.ms": statistics.median(read_ms["stats"]),
        "traversal.ms": statistics.median(read_ms["traverse"]),
        "traversal.driver_arm": driver_arm(traversal_edges(store.read())),
        "serialization.ms": statistics.median(read_ms["export"]),
        "serialization.lines": store.total_rows(),
    }


def traversal_edges(graph) -> int:
    """Edges find_related_entities builds: URI-object triples, both ways."""
    fwd, rev = graph.select(
        F.sum(F.col("object").startswith("http").cast("int")),
        F.sum((F.col("object").startswith("http") & F.col("subject").isNotNull()).cast("int")),
    ).first()
    return (fwd or 0) + (rev or 0)


# ---------------------------------------------------------------------------
# graph_serve
# ---------------------------------------------------------------------------


def serve_rows(corpus: corpora.Corpus, seed: int, size: dict) -> tuple[list[tuple], str]:
    """graph_serve's store inputs as (subject, predicate, object, source,
    doc_seq, triple_seq, batch) rows, and the traversal seed entity.

    Batch -2 is the pipeline graph of the seed pages: the generator's
    gold triples with every entity replaced by the smallest URI of its
    gold cluster, as link_entities picks canonical ids.  Batch -1 is a
    bulk load of new entities; batches 0.. each hold `batch_new` new
    triples and `batch_old` triples already in the store."""
    members: dict[str, list[str]] = {}
    for uri, c in corpus.clusters.items():
        members.setdefault(c, []).append(uri)
    canon = {u: min(members[c]) for u, c in corpus.clusters.items()}
    graph = sorted({(canon.get(s, s), p, canon.get(o, o)) for s, p, o in corpus.gold()})
    rows = [(s, p, o, "seed", i, 0, -2) for i, (s, p, o) in enumerate(graph)]
    companies = sorted({s for s, p, _ in graph if p == NAMESPACE + "locatedIn"})
    degree = Counter(s for s, _, o in graph if o.startswith("http"))
    hot = min(degree, key=lambda u: (-degree[u], u))
    rng = random.Random(seed)

    def new_entities(batch: int, n_triples: int) -> list[tuple]:
        out = []
        for k in range(n_triples // 4):
            uri = f"{BASE_URI}ServeEntity{batch + 2}x{k}"
            for j, (p, o) in enumerate((
                ("hasName", f"Serve Entity {batch + 2} {k}"),
                ("worksFor", rng.choice(companies)),
                ("hasRole", rng.choice(("CEO", "CTO", "Analyst"))),
                ("partneredWith", f"{BASE_URI}ServeEntity{batch + 2}x{k // 2}"),
            )):
                out.append((uri, NAMESPACE + p, o, f"serve://{batch}", 10_000_000 + batch, j, batch))
        return out

    rows += new_entities(-1, size["bulk_triples"])
    for b in range(size["batches"]):
        rows += new_entities(b, size["batch_new"])
        rows += [(s, p, o, f"serve://{b}", 10_000_000 + b, 100 + j, b)
                 for j, (s, p, o) in enumerate(rng.sample(graph, min(len(graph), size["batch_old"])))]
    return rows, hot


class GraphServe(Workload):
    name = "graph_serve"

    def build_inputs(self) -> float:
        t = time.perf_counter()
        self.data = corpora.default_corpus(self.size["seed_pages"], self.seed)
        rows, self.hot = serve_rows(self.data, self.seed, self.size)
        self.rows_path = self.scratch("serve_rows")
        write_table(rows, SERVE_SCHEMA, self.rows_path, self.nproc)
        return time.perf_counter() - t

    def warm_up(self) -> None:
        """Commit the seed graph and the bulk load, then run every read once."""
        self.batches = self.spark.read.parquet(str(self.rows_path)).cache()
        self.batches.count()
        self.store_root = str(self.scratch("store"))
        self.store = TripleStore(self.spark, self.store_root)
        self.added = self.store.insert_if_absent(self.batch(-2), "seed")
        self.added += self.store.insert_if_absent(self.batch(-1), "bulk")
        self.next_batch = 0
        for kind in READS:
            self.op(kind)

    def batch(self, i: int):
        return self.batches.filter(F.col("batch") == i).drop("batch")

    def op(self, kind: str) -> float:
        t = time.perf_counter()
        if kind == "commit":
            self.added += self.store.insert_if_absent(
                self.batch(self.next_batch % self.size["batches"]), f"serve-{self.next_batch}")
            self.next_batch += 1
        else:
            do_read(kind, self.store, self.hot)
        return time.perf_counter() - t

    def iteration(self, i: int) -> list[tuple[str, float]]:
        read = READS[i % len(READS)]
        return [("commit", self.op("commit")), (read, self.op(read))]

    def measure(self, seconds: float) -> dict:
        ops: list[tuple[str, float]] = []
        failed = i = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            try:
                ops += self.iteration(i)
            except Exception as e:  # noqa: BLE001 -- a failed iteration is counted, the loop goes on
                failed += 1
                print(f"iteration failed: {e!r}", file=sys.stderr)
            i += 1
        wall = time.perf_counter() - t0
        if not ops:
            raise RuntimeError("no graph_serve iteration completed")
        ms = {k: [v * 1000.0 for kk, v in ops if kk == k] for k in ("commit", *READS)}
        reads = [v for k in READS for v in ms[k]]
        # the highest percentile that leaves at least ten reads beyond it
        q = max(0.5, 1.0 - 10.0 / len(reads))
        return {
            "attempted": i,
            "failed": failed,
            "items": len(ops),
            "ops": len(ops),
            "items_per_s": len(ops) / wall,
            "op_p50_ms": statistics.median(v * 1000.0 for _, v in ops),
            "report": {
                "commit_p50_ms": (statistics.median(ms["commit"]), "ms"),
                **{f"read_{k}_p50_ms": (statistics.median(ms[k]) if ms[k] else None, "ms")
                   for k in READS},
                f"read_p{round(q * 100)}_ms": (percentile(reads, q), "ms"),
                "reads": (len(reads), "count"),
                "failed_ratio": (failed / i, "ratio"),
            },
        }

    def quality(self) -> dict:
        return {}

    def check(self, quality: dict) -> list[str]:
        problems = checks.store_idempotent(self.spark, self.store_root, self.added)
        return problems + checks.reads_match_duckdb(self.store, BGP)

    def traced(self, tracer: Tracer, seconds: float) -> dict:
        # the seed pages through the pipeline (its first pass in this
        # process), then through the traced layer chain
        self.start_llm([])
        pages = self.write_pages(self.data, "pages")
        with tracer.span("pipeline"):
            pipe, wall = self.run_pass(pages, "pipeline")
        out = self.pipeline_metrics(pipe, pages, wall)
        chain = TracedChain(self, tracer)
        with tracer.span("section") as sec:
            chain.run(pages)
        out.update(chain.metrics())
        # untraced and traced iterations alternate, so the store's growth
        # weighs on both alike
        sections, walls = [sec], {True: 0.0, False: 0.0}
        commit_s, added, read_ms = [], [], {k: [] for k in READS}
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() - t0 < seconds or i < 2 * len(READS):
            read = READS[(i // 2) % len(READS)]
            if i % 2 == 0:
                walls[False] += sum(v for _, v in self.iteration(i // 2))
            else:
                with tracer.span("section") as it:
                    before = self.store.total_rows()
                    with tracer.span("store") as s:
                        self.op("commit")
                    commit_s.append(tracer.wall(s))
                    added.append(self.store.total_rows() - before)
                    read_ms[read].append(read_span(tracer, read, self.store, self.hot))
                sections.append(it)
                walls[True] += tracer.wall(it)
            i += 1
        out.update(read_metrics(self.store, read_ms, self.hot))
        out.update(store_metrics(self.store))
        out.update({
            "store.commit_s": statistics.median(commit_s),
            "store.rows_offered": self.size["batch_new"] // 4 * 4 + self.size["batch_old"],
            "store.rows_added": statistics.median(added),
            "trace.overhead_s": walls[True] - walls[False],
            "_sections": sections,
        })
        return out


WORKLOADS = {w.name: w for w in (EntitiesLink, GraphServe)}
