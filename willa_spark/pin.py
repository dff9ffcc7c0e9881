"""The one materialization primitive: ``pin`` and ``pin_all``.

Spark does not reuse a subtree across the consumers of a frame, so a
frame read by more than one downstream plan (a self-join, a model
feeding a join and its broadcast gate, an iterative loop's state) is
re-derived per consumer unless it is materialized. Every site in the
package that materializes goes through this module.

Policy:

- **Eager by default.** The pin runs its job at call time, so the
  frame's lineage is computed exactly once. A lazy persist is not
  enough: the two shuffle-map stages of a self-join are submitted
  concurrently inside one action, and both race to compute the
  projection before the cache fills. Eager pins also surface
  in-plan guards (empty model, NULL key) at construction. The one
  lazy site is the BPE merge loop, which pins each round's table
  lazily so the plan never deepens with the round count while the
  round's own collect does the computing.
- **A local checkpoint, not ``persist``.** ``localCheckpoint`` cuts
  the lineage, so later plans over the frame stay shallow and
  analysis cost does not grow with each derivation, and its blocks
  are released when the frame is garbage-collected. No CacheManager
  entry outlives the call that made it.
- **Spill when the caller passes ``spill_dir``.** The frame is
  written there as parquet once and every consumer scans the files.
  This is the form for corpus-scale frames on a long cluster run: it
  takes no executor storage and it survives executor loss.
- **The fault-tolerance trade.** A local checkpoint keeps its blocks
  on the executors that computed them and drops the lineage, so
  losing one of those executors fails the job instead of
  recomputing the lost partitions. That is acceptable in local mode,
  for bounded (vocabulary-, query- or batch-sized) frames, and for
  batch jobs that are retried from scratch; the spill form is the
  durable alternative.
- **Idempotent.** A frame that is already a local checkpoint (its
  logical plan is a ``LogicalRDD`` over persisted blocks) is returned
  as is, with no job, so callers never need to be told whether their
  input was pinned.
- **Labelled.** The job runs under ``setJobDescription(label)``; the
  caller's previous description (a streaming micro-batch's, inside
  ``foreachBatch``) is restored afterwards.
- **Concurrent where independent.** ``pin_all`` pins independent
  frames as concurrent jobs, one thread each, instead of back to back:
  the jobs are small, so their scheduling latency, not their work,
  is what a sequential chain pays.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Sequence, Union

from pyspark.sql import DataFrame

_DESCRIPTION = "spark.job.description"


def is_pinned(df: DataFrame) -> bool:
    """True when ``df`` is already a local checkpoint: its logical
    plan root is a ``LogicalRDD`` whose RDD holds persisted blocks. A
    ``foreachBatch`` micro-batch is also a ``LogicalRDD``, but over
    the batch's unmaterialized lineage, so it is not pinned."""
    plan = df._jdf.queryExecution().logical()
    return (
        plan.nodeName() == "LogicalRDD"
        and plan.rdd().getStorageLevel().isValid()
    )


def pin(
    df: DataFrame,
    label: str,
    spill_dir: str | None = None,
    eager: bool = True,
) -> DataFrame:
    """Materialize ``df`` once and return the materialized frame.

    Default: an eager local checkpoint (a no-op when ``df`` is already
    one). ``spill_dir``: write parquet there (overwriting) and return
    the scan of it. ``eager=False``: a lazy local checkpoint, computed
    by the frame's first action."""
    if spill_dir is None and is_pinned(df):
        return df
    sc = df.sparkSession.sparkContext
    previous = sc.getLocalProperty(_DESCRIPTION)
    sc.setJobDescription(label)
    try:
        if spill_dir is None:
            return df.localCheckpoint(eager=eager)
        df.write.mode("overwrite").parquet(spill_dir)
        return df.sparkSession.read.parquet(spill_dir)
    finally:
        sc.setLocalProperty(_DESCRIPTION, previous)


def pin_all(
    items: Sequence[Union[DataFrame, Callable[[], DataFrame]]], label: str
) -> list[DataFrame]:
    """Pin independent frames as concurrent jobs; results come back in
    input order. An item may be a zero-argument builder instead of a
    frame: the builder runs on the item's own thread, so driver-side
    work it does (a training loop's collects) overlaps the other
    items' jobs. The first worker exception is raised once every item
    has finished."""

    def one(item) -> DataFrame:
        return pin(item() if callable(item) else item, label)

    with ThreadPoolExecutor(max_workers=max(1, len(items))) as ex:
        futures = [ex.submit(one, item) for item in items]
        return [f.result() for f in futures]
