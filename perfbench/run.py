"""Closed-loop, layer-by-layer benchmark of the pipeline.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload heavy --seed 1 --seconds 10 --trace 0

One client on a ``local[4]`` session runs one workload (see
``perfbench/workloads.py``; ``BENCHMARK.json`` lists ``heavy`` and
``dedup_stream``) on inputs generated from ``--seed`` inside the checkout,
checks every output, and prints its metrics. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` the run also makes one traced
pass and reports the per-layer ones, and writes its spans, per-query rows,
``count()`` bridge and tracing overhead to ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Files of the program this benchmark drives; without them it cannot run.
REQUIRED = (
    "__spark_entry__.py",
    "tern_ep_data_pipeline_spark/__init__.py",
    "tools/gen_scaledata.py",
    "tools/check_correctness.py",
    "tools/bench_stream_match.py",
)

WORKLOADS = ("etl", "heavy", "dedup_stream")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "peak_rss_mb": "MB",
}

#: Driver heap, pinned (-Xms = -Xmx): with a growable heap the JVM's
#: resident size depends on when G1 chooses to expand, which swung peak RSS
#: by a quarter between identical runs. Pinned, the heap is a constant and
#: peak RSS moves with off-heap, code-cache and Python-worker memory.
HEAP = "2g"

PER_LAYER = {
    "setup.session_s": "s",
    "setup.datagen_s": "s",
    "setup.index_seed_s": "s",
    "entry.build_s": "s",
    "entry.py4j_calls": "count",
    "entry.build_jobs": "count",
    "spark.catalyst.analysis_ms": "ms",
    "spark.catalyst.optimization_ms": "ms",
    "spark.catalyst.planning_ms": "ms",
    "spark.scheduler.jobs": "count",
    "spark.scheduler.stages": "count",
    "spark.scheduler.tasks": "count",
    "sources.files_read": "count",
    "sources.bytes_read": "B",
    "sources.scan_s": "s",
    "sources.rows_read": "count",
    "spark.exchange.count": "count",
    "spark.exchange.bytes_written": "B",
    "spark.exchange.records": "count",
    "spark.exchange.spill_bytes": "B",
    "spark.exchange.fetch_wait_s": "s",
    "spark.exchange.aqe_coalesced_partitions": "count",
    "kernels.python_run_s": "s",
    "kernels.python_start_s": "s",
    "kernels.arrow_bytes_sent": "B",
    "kernels.arrow_bytes_returned": "B",
    "operators.jvm_build_s": "s",
    "operators.rows_out": "count",
    "index.match_s": "s",
    "index.decisions_write_s": "s",
    "index.compact_s": "s",
    "index.files_max": "count",
    "index.bytes_written": "B",
    "index.bytes_per_doc": "B",
    "index.append_route.first-attempt-fast": "count",
    "index.append_route.no-fresh-docs": "count",
    "index.append_route.replay-per-leg-heal": "count",
    "trace.overhead_s": "s",
}


class Context:
    """State of one benchmark run, passed to the workload."""

    def __init__(self, args, work: str):
        from perfbench.probes import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.tracer = Tracer(enabled=False)
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        self.record: dict = {}
        self.query_rows: list[dict] = []
        self.batch_rows: list[dict] = []

    def count(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    @staticmethod
    def log(msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)


def _git_head() -> str | None:
    """HEAD of the checkout when it is a git work tree, read from ``.git``."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as fh:
                return fh.read().strip()
        return head
    except OSError:
        return None


def _cpu_ticks() -> list[int]:
    """The machine's CPU time split (user, nice, system, idle, iowait, irq,
    softirq, steal) from ``/proc/stat``, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _steal_frac(t0: list[int], t1: list[int]) -> float:
    """Share of the busy CPU time between two readings that the hypervisor
    took from this machine (steal): the host's load on a shared box, which
    stretches wall times without any change in the program."""
    d = [b - a for a, b in zip(t0, t1)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / busy if busy else 0.0


def _parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def _configure_env(work: str) -> None:
    """Pin what the results depend on and keep every file the run writes
    inside the checkout. PYTHONPATH carries the checkout root to the Python
    workers, which the JVM starts with this process's environment."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    for sub, var in (("spark-local", "SPARK_LOCAL_DIRS"), ("tmp", "TMPDIR")):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
        os.environ[var] = os.path.join(work, sub)


def main(argv: list[str]) -> int:
    args = _parse_args(argv)
    # a terminated run still stops its JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the pipeline; missing {missing}",
              file=sys.stderr)
        return 2
    load_start = os.getloadavg()[0]
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    _configure_env(work)
    sys.path.insert(0, ROOT)

    from perfbench.probes import RssSampler, SparkProbe
    from perfbench.workloads import BatchWorkload, StreamWorkload

    ctx = Context(args, work)
    wl = (StreamWorkload(ctx) if args.workload == "dedup_stream"
          else BatchWorkload(ctx, args.workload))
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            wl.generate()
            ctx.layers["setup.datagen_s"] = time.perf_counter() - t0

            from tern_ep_data_pipeline_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark("perfbench", extra_conf={
                "spark.driver.extraJavaOptions":
                    f"-Xms{HEAP} -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            })
            spark.sparkContext.setLogLevel("ERROR")
            ctx.layers["setup.session_s"] = time.perf_counter() - t0
            wl.prepare(spark)
            setup_s = time.perf_counter() - T_START

            cpu0 = _cpu_ticks()
            metrics = wl.measure(spark)
            metrics["setup_s"] = setup_s
            steal_frac = _steal_frac(cpu0, _cpu_ticks())

            bridge = None
            if args.trace:
                ctx.tracer.enabled = True
                traced_wall = wl.traced(spark, SparkProbe(spark))
                ctx.tracer.enabled = False
                ctx.layers["trace.overhead_s"] = traced_wall - metrics["wall_s"]
                if isinstance(wl, BatchWorkload):
                    bridge = wl.count_bridge(spark)
            box = {
                "nproc": os.cpu_count(),
                "master": spark.sparkContext.master,
                "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
                "loadavg_1m_at_start": load_start,
                "steal_frac_timed": steal_frac,
                "git_head": _git_head(),
            }
            _stop(spark)
            spark = None
        metrics["peak_rss_mb"] = rss.peak_bytes / 2**20
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed_frac = ctx.failed / ctx.attempted
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "box": box, "failed_frac": failed_frac, **ctx.record, **metrics}
    summary = {k: (metrics[k], u) for k, u in END_TO_END.items()}
    if "batch_p50_s" in ctx.record:
        summary["batch_p50_s"] = (ctx.record["batch_p50_s"], "s")
        summary["index_bytes_per_doc"] = (ctx.record["index_bytes_per_doc"], "B")
    if args.trace:
        layers = {**ctx.layers, **ctx.tracer.totals}
        out = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
               for k, u in PER_LAYER.items()}
        summary.update((k, (v["value"], v["unit"])) for k, v in out.items())
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        with open(path, "w") as fh:
            json.dump({"record": record, "per_layer": out, "spans": ctx.tracer.spans,
                       "queries": ctx.query_rows, "batches": ctx.batch_rows,
                       "count_bridge": bridge}, fh, indent=1, default=str)
        record["trace_file"] = os.path.relpath(path, ROOT)
    else:
        out = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items()}
    for k, (v, u) in summary.items():
        print(f"{k} {v:.6g} {u}")
    print(f"failed_frac {failed_frac:.6g} ({ctx.failed}/{ctx.attempted})")
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": out}))
    return 0


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    from perfbench.probes import wait_for_descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    wait_for_descendants(timeout_s=60)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
