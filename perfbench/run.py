"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc_sync,curation_batch}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs from the seed
under a per-run directory (``.perfbench/run-*``, removed at exit), starts
the engine's SparkSession on local[nproc], sets up (the session start,
which launches the JVM, plus a warm-up), measures for ``--seconds``, checks
every output, and prints one JSON line: ``{"correct", "attempted",
"failed", "metrics"}``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of BENCHMARK.json from a run with spans
around every layer call.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = {"cdc_sync": "wl_cdc", "curation_batch": "wl_curation"}
END_TO_END = {
    "setup_s": "s",
    "batch_s": "s",
    "typical_ms": "ms",
    "tail_ms": "ms",
}


def _env(root: str, run_dir: str, trace: bool) -> None:
    """Engine settings for this run: all cores, and every scratch path
    (Spark local dirs, temp files, event log) inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # The engine ships an 8g driver heap; the JVM grows into it rather than
    # collecting (5-6 GB peak RSS on these workloads against 1-3 GB at 2g).
    # The benchmark caps it for hosts whose memory is shared; set
    # SPARK_DRIVER_MEMORY=8g to measure the shipped heap.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    # every JVM (the spark-submit launcher too): temp files in the run
    # directory, no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run_dir, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _stop_jvm() -> None:
    """Stop the JVM this process launched and wait for it to exit (it
    would otherwise exit on its own only after this process has)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _start_session():
    from k8s_vectordb_sync_spark.session import build_spark

    spark = build_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Context:
    """What a workload gets: its run directory, measuring time, tracer."""

    def __init__(self, root: str, run_dir: str, seed: int, seconds: float, tracer):
        self.root = root
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.layer: dict[str, float] = {}  # per-layer metric values


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "k8s_vectordb_sync_spark", "session.py")):
        print("perfbench: run from the repository root (engine package not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    from common import RssSampler, Tracer, read_event_log

    run_dir = os.path.join(root, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _env(root, run_dir, bool(args.trace))
    wl = importlib.import_module(WORKLOADS[args.workload])
    tracer = Tracer(bool(args.trace))
    ctx = Context(root, run_dir, args.seed, args.seconds, tracer)
    spark = None
    try:
        t_gen = time.perf_counter()
        inputs = wl.generate(ctx)  # untimed: input generation and references
        t_gen = time.perf_counter() - t_gen
        # memory is a per-layer metric: sample it in traced runs only
        rss = RssSampler() if args.trace else None
        with rss or contextlib.nullcontext():
            t0 = time.perf_counter()
            spark = _start_session()
            start_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl.warm_up(spark, inputs, ctx)
            warm_s = time.perf_counter() - t0
            ctx.layer["session.start_s"] = start_s
            ctx.layer["session.warm_up_s"] = warm_s
            t_measure = time.perf_counter()
            result = wl.measure(spark, inputs, ctx)
            t_measure = time.perf_counter() - t_measure
        t_check = time.perf_counter()
        failed = wl.check(spark, inputs, ctx, result)  # untimed
        t_check = time.perf_counter() - t_check
        print(
            f"perfbench: generate {t_gen:.1f}s, session start {start_s:.1f}s, "
            f"warm-up {warm_s:.1f}s, measure {t_measure:.1f}s, check {t_check:.1f}s",
            file=sys.stderr,
        )
        spark.stop()
        spark = None
        if args.trace:
            tracer.restore()
            wl.layer_metrics(ctx, result, read_event_log(os.path.join(run_dir, "eventlog")))
            tracer.dump(os.path.join(root, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    if rss is not None:
        ctx.layer["peak_rss_mb"] = rss.peak_bytes / 2**20
    e2e = {
        "setup_s": start_s + warm_s,
        "batch_s": result["batch_s"],
        "typical_ms": result["typical_ms"],
        "tail_ms": result["tail_ms"],
    }
    attempted = result["attempted"]
    ctx.layer["ops_failed_ratio"] = failed / attempted
    if args.trace:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)["per_layer"]
        with open(os.path.join(HERE, "layers.json")) as fh:
            unmapped = {m["name"] for m in spec} ^ set(json.load(fh)["per_layer"])
        if unmapped:
            print(f"perfbench: BENCHMARK.json and layers.json disagree on {sorted(unmapped)}", file=sys.stderr)
            return 1
        ctx.layer.update({f"trace.{k}": v for k, v in e2e.items()})
        metrics = {m["name"]: {"value": float(ctx.layer.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
