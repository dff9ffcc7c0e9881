"""stream_topology: a seeded backlog of parquet files drained through
``StreamingTopologyRunner.build`` + ``start_queries``, one file per
micro-batch. One query: map∘filter kstream -> tumbling-window sum
ktable with a watermark -> memory sink (update mode). The first
``WARM_FILES`` batches warm the query up and are charged to setup;
the rest are timed. The final per-(key, window) state must equal
``run_topology`` over the same records (batch ≡ streaming); that
untimed batch run is where the traced run measures the batch layer."""

from __future__ import annotations

import datetime as dt
import json
import os
import threading

import inputs
from harness import log

# per-batch latency falls from ~4 s (batch 0) to ~0.5 s by batch 20 and
# drifts down slowly after: timed from batch 15 the p50 of runs spread
# by 12%, timed from batch 30 by ~5%
WARM_FILES = 30
PER_FILE = 2_000
FILES_PER_SECOND = 2.0  # timed backlog per --seconds (~0.5 s a batch)
WINDOW_MS = 2_000
WATERMARK = "3 seconds"  # > inputs.MAX_LATE_MS: no record is dropped as late


def topology(batch: bool):
    from willa_spark import Aggregate, Compose, FilterRecords, MapValues, TumblingWindow

    table = {
        "type": "ktable",
        "group_by": lambda k, v: k,
        "window": TumblingWindow(WINDOW_MS),
        "aggregate": Aggregate.sum(),
        "emit_window": True,
        "watermark": WATERMARK,
    }
    if batch:
        table["suppress"] = True  # final value per window
    return {
        "entities": {
            "in": {"type": "topic"},
            "s": {
                "type": "kstream",
                "xform": Compose(
                    [MapValues(lambda v: v * 2 + 1), FilterRecords(lambda k, v: v % 3 != 0)]
                ),
            },
            "t": table,
            "out": {"type": "topic"},
        },
        "workflow": [("in", "s"), ("s", "t"), ("t", "out")],
    }


def _listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Every micro-batch's progress (``recentProgress`` keeps only
        the last 100)."""

        def __init__(self):
            self.progress: list[dict] = []
            self.terminated = threading.Event()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.set()

    return Progress()


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def run(spark, seed: int, seconds: float, tracer, t_process: float, run_dir: str) -> dict:
    from willa_spark import collect_records, run_topology
    from willa_spark.streaming.compiler import StreamingTopologyRunner

    n_timed = max(10, round(seconds * FILES_PER_SECOND))
    src = os.path.join(run_dir, "inputs", "backlog")
    paths = inputs.write_backlog(inputs.rng(seed, inputs.WARM), src, 0, WARM_FILES, PER_FILE)
    paths += inputs.write_backlog(
        inputs.rng(seed, inputs.TIMED), src, WARM_FILES, n_timed, PER_FILE
    )
    inputs.set_arrival_order(paths)
    schema = spark.read.parquet(paths[0]).schema

    listener = _listener()
    spark.streams.addListener(listener)
    runner = StreamingTopologyRunner(spark, topology(batch=False))
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    with tracer.span("streaming.build"):
        built = runner.build({"in": stream})
    with tracer.span("streaming.start_queries"):
        queries = runner.start_queries(built, os.path.join(run_dir, "chk"))
    (q,) = queries.values()
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
        raise TimeoutError("stream_topology: the drain did not finish in 120 s")
    listener.terminated.wait(30)
    spark.streams.removeListener(listener)

    data = [p for p in listener.progress if p["numInputRows"] > 0]
    timed = [p for p in data if p["batchId"] >= WARM_FILES]
    if len(data) != WARM_FILES + n_timed:
        raise RuntimeError(
            f"stream_topology: {len(data)} data batches for {WARM_FILES + n_timed} files"
        )
    starts = [_epoch(p["timestamp"]) for p in timed]
    ends = [s + p["durationMs"]["triggerExecution"] / 1e3 for s, p in zip(starts, timed)]
    wall = ends[-1] - starts[0]
    records = sum(p["numInputRows"] for p in timed)

    # batch ≡ streaming: final state per (key, window)
    # the sums only grow (every value is positive), so the last update
    # of a window in the update-mode sink is its largest
    got = {
        (r[0], r[1]): r[2]
        for r in spark.sql(
            "SELECT key, value.win, max(value.v) FROM out_sink GROUP BY key, value.win"
        ).collect()
    }
    with tracer.span("batch.run_topology"):
        ref = run_topology(spark, topology(batch=True), {"in": spark.read.parquet(src)})
    with tracer.span("batch.collect_records"):
        rows = collect_records(ref["out"])
    want = {(k, v[0]): v[1] for k, v in rows}
    states = set(got) | set(want)
    failed = sum(1 for kw in states if got.get(kw) != want.get(kw))
    if failed:
        log(f"stream_topology: {failed} (key, window) states differ from run_topology")
    log(f"stream_topology: {len(timed)} timed batches, {len(states)} (key, window) states")
    return {
        "attempted": len(states),
        "failed": failed,
        "setup_s": starts[0] - t_process,
        "pass_s": wall,
        "latency_ms": [p["durationMs"]["triggerExecution"] for p in timed],
        "throughput_per_s": records / wall,
        "windows": list(zip(starts, ends)),
        "progress": timed,
    }
