"""perfbench: the repo's end-to-end and per-layer benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run starts one Spark session
(local[nproc], driver memory sized from host RAM), generates its
inputs from the seed under .perfbench_work/, warms up untimed (charged
to setup_s), measures for about --seconds, checks its own outputs and
prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 turns on the Spark
event log and the benchmark's spans and reports the per-layer metrics
(spans are kept under .perfbench_work/traces/).
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("stream_topology", "llm_training_loops")


def end_to_end(res: dict) -> dict:
    m = harness.metric
    return {
        "setup_s": m(res["setup_s"], "s"),
        "pass_s": m(res["pass_s"], "s"),
        "latency_p50_ms": m(statistics.median(res["latency_ms"]), "ms"),
        "throughput_per_s": m(res["throughput_per_s"], "1/s"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is the checkout's own willa_spark
    if not os.path.isfile(os.path.join(REPO, "willa_spark", "__init__.py")):
        harness.log(f"no willa_spark package under {REPO}")
        return 2
    sys.path.insert(0, REPO)
    os.chdir(REPO)
    # Python workers import willa_spark from here
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable

    run_dir = harness.make_run_dir(args.workload, args.seed)
    try:
        return measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, run_dir: str) -> int:
    tracer = layers.Tracer(bool(args.trace), f"{args.workload}-s{args.seed}")
    spark = harness.make_session(run_dir, bool(args.trace))
    try:
        if args.workload == "stream_topology":
            import wl_stream

            res = wl_stream.run(spark, args.seed, args.seconds, tracer, T_PROCESS, run_dir)
        else:
            import wl_loops

            res = wl_loops.run(spark, args.seed, args.seconds, tracer, T_PROCESS, run_dir)
        peak = harness.peak_rss_mb()
    finally:
        harness.stop_spark(spark)

    metrics = end_to_end(res)
    p90 = harness.p90_if_supported(res["latency_ms"])
    harness.log(
        f"{args.workload}: {len(res['latency_ms'])} timed operations (ms: "
        f"{[round(x) for x in res['latency_ms']]}), latency p90 "
        + (f"{p90:.1f} ms" if p90 is not None else "not reported (under 10 samples beyond it)")
    )
    if args.trace:
        metrics = layers.per_layer(res, tracer, os.path.join(run_dir, "events"))
        # peak RSS moves by up to ±15% between identical runs (the JVM
        # touches a different share of its heap each time), too much for
        # a bounded metric; the end-to-end figures under tracing give
        # the tracing overhead against an untraced run
        metrics["memory.peak_rss_mb"] = harness.metric(peak, "MB")
        metrics.update({f"trace.{k}": v for k, v in end_to_end(res).items()})
        tracer.write(
            os.path.join(harness.WORK_ROOT, "traces", f"{tracer.run_id}.spans.jsonl")
        )
    harness.emit(res["failed"] == 0, res["attempted"], res["failed"], metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
