"""The benchmark's registered metrics: names, units and which way is
better.  BENCHMARK.json lists the same set (a test keeps them equal)."""

from __future__ import annotations

# (name, unit, better, bound): bound is the share of the parent's median
# by which the metric may worsen before a change counts as a regression
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("cpu_ms_per_item", "ms", "lower", 0.25),
    ("spark_jobs_per_op", "count", "lower", 0.25),
]

# layer -> [(metric, unit, better)]; layers are named after their module
LAYERS = {
    "html_text": [("busy_s", "s", "lower"), ("mb_per_s", "MB/s", "higher")],
    "extract": [("busy_s", "s", "lower"), ("docs", "count", "higher"),
                ("rows_out", "count", "higher"), ("error_rows", "count", "lower")],
    "llm": [("requests", "count", "lower"), ("reply_p50_ms", "ms", "lower"),
            ("inflight_max", "count", "higher"), ("inflight_mean", "count", "higher"),
            ("wait_s", "s", "lower"), ("malformed", "count", "lower")],
    "dedup": [("busy_s", "s", "lower"), ("rows_in", "count", "higher"),
              ("rows_out", "count", "higher")],
    "linking": [("busy_s", "s", "lower"), ("entities", "count", "higher"),
                ("clusters", "count", "lower"), ("candidate_pairs", "count", "lower"),
                ("verified_edges", "count", "higher"), ("pair_quality", "ratio", "higher")],
    "components": [("busy_s", "s", "lower"), ("edges", "count", "lower"),
                   ("driver_arm", "flag", "higher")],
    "canonicalize": [("busy_s", "s", "lower"), ("rows_in", "count", "higher"),
                     ("rows_out", "count", "higher")],
    "pipeline": [(f"{s}_s", "s", "lower") for s in
                 ("s2_extracted", "s3_triples", "s3_lineage", "s4_mapping", "s5_graph",
                  "input_identity", "overhead")],
    "store": [("commit_s", "s", "lower"), ("rows_offered", "count", "higher"),
              ("rows_added", "count", "higher"), ("bytes_written", "MB", "lower"),
              ("files", "count", "lower"), ("read_s", "s", "lower")],
    "sparql": [("bgp_ms", "ms", "lower"), ("rows", "count", "higher")],
    "stats": [("ms", "ms", "lower")],
    "traversal": [("ms", "ms", "lower"), ("driver_arm", "flag", "higher")],
    "serialization": [("ms", "ms", "lower"), ("lines", "count", "higher")],
    "trace": [("coverage", "ratio", "higher"), ("overhead_s", "s", "lower")],
}

# Spark counters reduced from the event log per job group.  Every layer
# that submits Spark jobs reports them; `llm` runs inside extract's
# tasks, `pipeline` spans the other layers and `trace` is no layer, so
# those three do not (which also keeps the list within 128 metrics).
SPARK_COUNTERS = [("jobs", "count"), ("tasks", "count"), ("cpu_s", "s"),
                  ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
                  ("spill_mb", "MB"), ("task_skew", "ratio")]
SPARK_LAYERS = [k for k in LAYERS if k not in ("llm", "pipeline", "trace")]


def per_layer() -> list[tuple[str, str, str]]:
    out = [(f"{layer}.{m}", u, b) for layer, ms in LAYERS.items() for m, u, b in ms]
    out += [(f"{layer}.{c}", u, "lower") for layer in SPARK_LAYERS for c, u in SPARK_COUNTERS]
    return out


def registered(values: dict, trace: bool) -> dict:
    """The result line's metrics: exactly the registered set, in order.
    A metric the run could not take (a product name a later change
    removed) is reported as null."""
    names = per_layer() if trace else [(n, u, b) for n, u, b, _ in END_TO_END]
    return {n: {"value": values.get(n), "unit": u} for n, u, _ in names}
