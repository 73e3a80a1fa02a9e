"""sparkkg benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload entities_link --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout; the product package is imported
from there.  Set-up (Spark session start, input generation, untimed
warm-up) is reported as `setup_s`; then the workload's operation runs
in a closed loop with one client for `--seconds`, and the outputs are
checked untimed.  The line before the last one carries the workload's
own metrics (see perfbench/NOTES.md); the last line carries the
registered metrics:

- `--trace 0`: setup_s, cpu_ms_per_item, spark_jobs_per_op;
- `--trace 1`: the per-layer metrics, from spans around each layer's
  public function and from the Spark event log.

Scratch data goes to .perfbench_work/ under the checkout; span files
stay in .perfbench_work/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("entities_link", "graph_serve")
INPUT_BUILDS = 3  # set-up input generation runs this many times; median reported


class ProcessTree:
    """RSS and CPU time of this process and all its descendants (driver,
    JVM, Python workers, fake endpoint), read from /proc.  A thread
    samples the summed RSS; `window` collects the samples taken while
    it is set."""

    def __init__(self, interval: float = 0.1):
        self.interval, self.peak_mb = interval, 0.0
        self.window: list[float] | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    def _stats(self) -> list[list[str]]:
        """/proc/<pid>/stat fields after the command name, for the tree."""
        children: dict[int, list[int]] = {}
        fields: dict[int, list[str]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            rest = stat[stat.rindex(")") + 2 :].split()
            fields[int(d)] = rest
            children.setdefault(int(rest[1]), []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in fields:
                out.append(fields[pid])
            todo += children.get(pid, [])
        return out

    def rss_mb(self) -> float:
        return sum(int(f[21]) for f in self._stats()) * self._page / 1e6

    def cpu_s(self) -> float:
        """User + system time, including reaped children's."""
        return sum(sum(int(x) for x in f[11:15]) for f in self._stats()) / self._tick

    def _run(self):
        while not self._stop.is_set():
            rss = self.rss_mb()
            self.peak_mb = max(self.peak_mb, rss)
            if self.window is not None:
                self.window.append(rss)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def steal_s() -> float:
    """Seconds of CPU time the hypervisor took from this VM (all CPUs),
    from the steal column of /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def start_spark(work: Path, nproc: int, trace: bool):
    from rdf_knowledge_extractor_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # scratch stays in the checkout: Python workers inherit TMPDIR; the
    # block manager's directories follow SPARK_LOCAL_DIRS, which would
    # win over spark.local.dir if the caller's environment set it
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": (work / "eventlog").as_uri()})
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=2 * nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    end (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        gateway.close()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def per_layer(traced: dict, tracer, counters: dict) -> dict:
    """Per-layer metrics: the workload's traced numbers, each layer's
    Spark counters, and trace coverage (layer self time over the wall
    time of the traced sections)."""
    from perfbench.metrics import SPARK_COUNTERS, SPARK_LAYERS

    sections = traced.pop("_sections")
    wall = sum(tracer.wall(s) for s in sections)
    layers = sum(v for k, v in tracer.self_times().items() if k not in ("section", "pipeline"))
    out = dict(traced, **{"trace.coverage": layers / wall})
    for layer in SPARK_LAYERS:
        c = counters.get(layer, {})
        for name, _ in SPARK_COUNTERS:
            out[f"{layer}.{name}"] = c.get(name, 0)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="sparkkg benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (tests use small ones)")
    args = p.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import rdf_knowledge_extractor_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the product package is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.metrics import END_TO_END, registered
    from perfbench.trace import Tracer, reduce_event_log
    from perfbench.workloads import WORKLOADS

    nproc = os.cpu_count() or 1
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = wl = None
    try:
        with ProcessTree() as tree:
            t0 = time.perf_counter()
            spark = start_spark(work, nproc, bool(args.trace))
            session_s = time.perf_counter() - t0
            wl = WORKLOADS[args.workload](spark, work, args.seed, nproc, args.scale)
            build_s = statistics.median(wl.build_inputs() for _ in range(INPUT_BUILDS))
            t = time.perf_counter()
            wl.warm_up()
            setup_s = session_s + build_s + (time.perf_counter() - t)

            if args.trace:
                tracer = Tracer(spark)
                traced = wl.traced(tracer, args.seconds)
                problems = []
            else:
                # every job the window submits carries this job group
                sc = spark.sparkContext
                sc.setLocalProperty("spark.jobGroup.id", "window")
                tree.window, cpu0, steal0, t0 = [], tree.cpu_s(), steal_s(), time.perf_counter()
                result = wl.measure(args.seconds)
                wall, window = time.perf_counter() - t0, tree.window
                cpu, steal = tree.cpu_s() - cpu0, steal_s() - steal0
                tree.window = None
                sc.setLocalProperty("spark.jobGroup.id", None)
                jobs = len(sc.statusTracker().getJobIdsForGroup("window"))
                quality = wl.quality()
                problems = wl.check(quality)
        if args.trace:
            stop_spark(spark)
            spark = None
            counters = reduce_event_log(work / "eventlog")
            tracer.write(ROOT / ".perfbench_work" / "traces" / f"{args.workload}-{args.seed}.json")
            metrics = per_layer(traced, tracer, counters)
            attempted, failed = len(tracer.spans), 0
        else:
            metrics = {"setup_s": setup_s, "cpu_ms_per_item": cpu * 1000.0 / result["items"],
                       "spark_jobs_per_op": jobs / result["ops"]}
            report = {**{k: (v, u) for (k, u, *_), v in
                         zip(END_TO_END, (metrics[n] for n, *_ in END_TO_END))},
                      "items_per_s": (result["items_per_s"], "1/s"),
                      "op_p50_ms": (result["op_p50_ms"], "ms"),
                      "steal_share": (steal / (wall * nproc), "ratio"),
                      "peak_rss_mb": (tree.peak_mb, "MB"),
                      "window_rss_mb": (statistics.median(window or [tree.peak_mb]), "MB"),
                      **result["report"], **quality}
            print(json.dumps({"workload": args.workload, "seed": args.seed, "problems": problems,
                              "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()}}))
            attempted, failed = result["attempted"], result["failed"]
        for msg in problems:
            print(f"check failed: {msg}", file=sys.stderr)
        correct = not problems and failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": registered(metrics, bool(args.trace))}))
        return 0 if correct else 1
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
