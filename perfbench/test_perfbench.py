"""Tests of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end cases start Spark once per workload and mode (about a
minute each on a 4-core box).
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import corpora, metrics  # noqa: E402
from perfbench.run import WORKLOAD_NAMES  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
# the workload-specific metrics each workload prints on its report line
COMMON = {"setup_s", "cpu_ms_per_item", "spark_jobs_per_op", "items_per_s", "op_p50_ms",
          "peak_rss_mb", "window_rss_mb", "steal_share", "failed_ratio"}
REPORT = {
    "entities_link": COMMON | {"pages_per_s", "triple_precision", "triple_recall", "link_f1"},
    "graph_serve": COMMON | {"commit_p50_ms", "read_bgp_p50_ms", "read_stats_p50_ms",
                             "read_traverse_p50_ms", "read_export_p50_ms"},
}


def test_benchmark_json_matches_registry():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOAD_NAMES)
    from perfbench.workloads import WORKLOADS

    assert list(WORKLOADS) == list(WORKLOAD_NAMES)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == metrics.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == metrics.per_layer()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + list(WORKLOAD_NAMES)
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in bench["end_to_end"] + bench["per_layer"])
    assert len(bench["per_layer"]) <= 128
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_generators_are_deterministic():
    a, b = corpora.entity_corpus(120, 7), corpora.entity_corpus(120, 7)
    assert a == b
    assert corpora.entity_corpus(120, 8).rows != a.rows
    assert corpora.default_corpus(30, 7) == corpora.default_corpus(30, 7)


def test_entity_corpus_text_is_what_html_to_text_yields():
    from rdf_knowledge_extractor_spark.functions.html_text import extract_text

    c = corpora.entity_corpus(60, 3)
    assert [extract_text(r[2].decode()) for r in c.rows] == c.texts


def test_entity_corpus_clusters_are_separable_at_the_link_threshold():
    """Variants of one company share a key or pass the Jaccard verifier;
    entities of different clusters never do, near misses included."""
    c = corpora.entity_corpus(600, 5)
    by_key: dict[str, set] = {}
    for uri, cluster in c.clusters.items():
        by_key.setdefault(corpora.canonical_key(uri.rsplit("/", 1)[1]), set()).add(cluster)
    assert all(len(v) == 1 for v in by_key.values())
    keys = [(k, next(iter(v))) for k, v in by_key.items()]
    typos = near = 0
    for i, (k1, c1) in enumerate(keys):
        for k2, c2 in keys[i + 1 :]:
            j = corpora.key_jaccard(k1, k2)
            if c1 == c2:
                typos += j >= corpora.LINK_THRESHOLD
            else:
                assert j < corpora.LINK_THRESHOLD, (k1, k2)
                near += j >= 0.7
    assert typos > 0 and near > 0


def test_fake_endpoint_malformed_share_is_exact(tmp_path):
    from rdf_knowledge_extractor_spark.functions.extract import parse_llm_response
    from rdf_knowledge_extractor_spark.functions.llm import HttpLlmClient
    from rdf_knowledge_extractor_spark.functions.prompts import build_extraction_prompt

    from perfbench.fake_llm import doc_hash
    from perfbench.workloads import FakeLlm, config

    c = corpora.entity_corpus(50, 1)
    bad = set(range(0, 50, 7))
    hashes = tmp_path / "bad.txt"
    hashes.write_text("".join(doc_hash(c.texts[i]) + "\n" for i in bad))
    server = FakeLlm(hashes, delay_ms=0.0)
    try:
        cfg = config()
        client = HttpLlmClient(server.url, "fake")
        prompts = [build_extraction_prompt(t, cfg.extraction_questions, cfg.rdf_schema) for t in c.texts]
        replies = client.generate_structured_batch(prompts, None)
        failed = {i for i, r in enumerate(replies) if parse_llm_response(r, cfg)[1] is not None}
        stats = server.stats()
    finally:
        server.close()
    assert failed == bad
    assert stats["requests"] == 50 and stats["malformed"] == len(bad)


def run_bench(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_prints_every_metric_with_its_unit(workload, trace):
    proc = run_bench(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    registered = metrics.per_layer() if trace else metrics.END_TO_END
    assert list(result["metrics"]) == [m[0] for m in registered]
    for (name, unit, *_), got in zip(registered, result["metrics"].values()):
        assert got["unit"] == unit
        assert isinstance(got["value"], (int, float)), name
    if not trace:
        report = json.loads(lines[-2])["report"]
        assert REPORT[workload] <= set(report)
        assert all(v["unit"] for v in report.values())


def test_exits_nonzero_without_the_product(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("entities_link", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
