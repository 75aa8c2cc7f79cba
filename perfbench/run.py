"""Candle-engine benchmark runner.

Run from the repository root:

    python3 perfbench/run.py --workload chart_reads --seed 1 --seconds 10 --trace 0

The workloads, the metrics and their bounds are listed in
``BENCHMARK.json``; ``perfbench/README.md`` says what each measures. The
last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``, carrying the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. The line before it records the workload's own named
metrics, the run's conditions (core count, load sentinel before and
after) and, when traced, every layer value measured.

All files a run writes go under ``.perfbench_work/`` in the current
directory. The run's own subdirectory is removed at the end; what is
kept across runs (``ann_index``'s per-seed top-10 digests, in
``.perfbench_work/topk/``) is a few bytes a seed.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import PeakRssSampler, check_metric_name, load_sentinel  # noqa: E402

ENGINE = "stock_chart_kafka_streams_spark"


def _workload_class(name: str):
    if name == "chart_reads":
        from chart_reads import ChartReads

        return ChartReads
    if name == "ann_index":
        from ann_index import AnnIndex

        return AnnIndex
    raise ValueError(f"unknown workload {name!r}")


def _load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"] + spec["per_layer"]:
        check_metric_name(m["name"])
    return spec


def _prepare_env(work: str, nproc: int) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall back to a hard stop
            proc.kill()
            proc.wait(timeout=30)


def run(args, root: str, spec: dict) -> dict:
    from common import Context

    nproc = len(os.sched_getaffinity(0))
    sentinel_before = load_sentinel()
    t_setup = time.perf_counter()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work, nproc)
    os.chdir(work)  # the session's warehouse directory lands here
    rss = PeakRssSampler()
    spark = None
    wl = None
    try:
        from stock_chart_kafka_streams_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(spark=spark, seed=args.seed, seconds=args.seconds,
                      trace=bool(args.trace), work=work, rss=rss)
        ctx.layers["session.start_s"] = time.perf_counter() - t0
        wl = _workload_class(args.workload)(ctx)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        out = wl.measure(args.seconds, trace=bool(args.trace))
        if args.trace:
            ctx.layers["trace.overhead_ms"] = ctx.trace_s * 1000.0
        out.checks_failed += wl.finish()
        rss.sample()
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            _stop_spark(spark)
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
        top = os.path.join(root, ".perfbench_work")
        if os.path.isdir(top) and not os.listdir(top):
            os.rmdir(top)

    e2e = dict(out.e2e, setup_s=setup_s)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = ctx.layers if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    failed = out.failed + len(out.checks_failed)
    conditions = dict(
        out.conditions,
        nproc=nproc,
        load_sentinel_before_s=sentinel_before,
        load_sentinel_after_s=load_sentinel(),
    )
    named = {k: {"value": v, "unit": u} for k, (v, u) in out.named.items()}
    named["setup_s"] = {"value": setup_s, "unit": "s"}
    named["peak_rss_mb"] = {"value": rss.peak, "unit": "MB"}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "named": named, "conditions": conditions, "checks_failed": out.checks_failed,
    }
    if args.trace:
        record["layers"] = ctx.layers
    print(json.dumps(record))
    return {
        "correct": failed == 0,
        "attempted": out.attempted + len(out.checks_failed),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "BENCHMARK.json")):
        print("perfbench: run from the directory holding BENCHMARK.json", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    found = importlib.util.find_spec(ENGINE)
    if found is None or not (found.origin or "").startswith(os.path.join(root, ENGINE)):
        print(f"perfbench: package {ENGINE!r} not found under {root}", file=sys.stderr)
        return 2
    spec = _load_spec(root)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        result = run(args, root, spec)
    except Exception:  # noqa: BLE001 — report and exit without a result line
        traceback.print_exc()
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
