"""One way to run a streaming result to a batch DataFrame.

Every streaming gate ends the same way: start the query under
``Trigger.AvailableNow``, keep what each micro-batch emits, wait, and hand
back a batch frame.  :func:`run` is that scaffolding, with one
``foreachBatch`` sink that keeps each micro-batch as an executor-side
``localCheckpoint`` keyed by batch id, so no micro-batch is collected to
the driver and no output directory is written and read back.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame

from ..util import local_frame

log = logging.getLogger("xclim_spark.streaming")


def run(out: DataFrame, *, mode: str = "append",
        fold: Callable[[DataFrame], DataFrame] | None = None,
        state_partitions: int = 8) -> DataFrame:
    """Run the streaming frame ``out`` to completion and return its result.

    Parameters
    ----------
    out : DataFrame
        A streaming DataFrame (``readStream`` and its transformations).
    mode : {"append", "complete"}
        The output mode.  ``"complete"`` returns the last micro-batch (the
        whole result table); ``"append"`` returns the union of every
        micro-batch in batch-id order, no-data batches included.
    fold : callable, optional
        A batch transform applied to each micro-batch before it is kept,
        e.g. a per-batch partial aggregate that keeps a corpus-sized
        per-row output on the executors.
    state_partitions : int
        ``spark.sql.shuffle.partitions`` while the query runs.  A
        Structured Streaming query pins its state partition count from
        this conf at its first trigger, and every micro-batch then pays a
        fixed per-partition cost (state-store open/commit and one Arrow
        round-trip per ``applyInPandas*`` partition) whatever its row
        volume.  A replay of a handful of micro-batches over ~10^3 keys
        wants few partitions; a real deployment sizes them to the cluster
        (they are fixed for the life of the checkpoint).  The session
        conf is restored when the query ends, failed or not.

    Returns
    -------
    DataFrame
        A batch frame on ``out``'s session whose rows live in
        executor-side checkpoint blocks.  ``foreachBatch`` is
        at-least-once: a replayed batch overwrites its own batch id, so it
        cannot be counted twice.  A source with no files gives an empty
        frame of the result's schema.

    One ``logging`` record per micro-batch goes to the
    ``xclim_spark.streaming`` logger, read from ``recentProgress`` (driver
    memory, no Spark action; the last
    ``spark.sql.streaming.numRecentProgressUpdates`` batches): batch id,
    duration, input rows, each state operator's ``numRowsTotal`` and the
    watermark.
    """
    if mode not in ("append", "complete"):
        raise ValueError(f"mode must be 'append' or 'complete', not {mode!r}")
    spark = out.sparkSession
    parts: dict[int, DataFrame] = {}

    def keep(batch: DataFrame, batch_id: int) -> None:
        if mode == "complete":
            # each batch is the whole result table: hold only the newest
            parts.clear()
        parts[batch_id] = (fold(batch) if fold else batch) \
            .localCheckpoint(eager=True)

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    q = None
    try:
        q = (out.writeStream.foreachBatch(keep).outputMode(mode)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        if q is not None:
            q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for p in q.recentProgress:
        rec = {"batch_id": p.batchId,
               "duration_ms": p.durationMs.get("triggerExecution", 0),
               "input_rows": p.numInputRows,
               "num_rows_total": [o.numRowsTotal for o in p.stateOperators],
               "watermark": p.eventTime.get("watermark")}
        log.info("batch %(batch_id)d: %(duration_ms)d ms, %(input_rows)d "
                 "input rows, state rows %(num_rows_total)s, watermark "
                 "%(watermark)s", rec, extra=rec)

    if not parts:
        empty = local_frame(spark, [], out.schema)
        return fold(empty) if fold else empty
    res = reduce(DataFrame.union, (parts[b] for b in sorted(parts)))
    # the micro-batch frames belong to the query's cloned session, which
    # runs with AQE off and the state partition count; rebind the result
    # to the caller's session so later plans over it run under its conf
    return DataFrame(spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, res._jdf.logicalPlan()), spark)
