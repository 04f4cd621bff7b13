"""Streaming quickstart: time-ordered file replay -> stateful CFFWIS ->
executor-side foreachBatch aggregation, plus bounded-state dedup.

Runnable against the synthetic tables:

    python examples/streaming_pipeline.py [sf_dir]   # default sf0.001

Production shapes demonstrated (the same code runs against a Kafka or
cloud-storage source — only ``readStream`` options change):

* **stateful operator** — ``streaming_cffwis`` carries the fire-weather
  moisture-code recursion across micro-batches in the state store,
  keyed by deterministic cell-hash blocks; the per-cell time-order
  contract and the fixed-``num_blocks`` checkpoint contract are both
  ENFORCED (violations raise instead of corrupting the recursion);
* **production sink** — ``streaming.run`` folds each micro-batch's
  per-day outputs to (cell, month) PARTIAL aggregates and keeps them as
  executor-side checkpoints keyed by batch id; nothing corpus-sized
  ever reaches the driver, the partials recombine exactly with one
  small batch query, and a replayed micro-batch OVERWRITES its own
  batch id, so the at-least-once replay after a checkpoint restart is
  idempotent;
* **bounded-state dedup** — ``streaming_dedup_keys`` evicts a key's
  state once the event-time watermark passes it + delay, so an
  always-on ingest dedup service holds (arrival rate x window) state,
  not corpus cardinality.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def main(sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from xclim_spark import session
    from xclim_spark.queries import _stage_stream_daily
    from xclim_spark.streaming import (
        run,
        streaming_cffwis,
        streaming_dedup_keys,
    )

    # honor the harness's core-count contract; cap the local driver
    # heap (local[*] x 32 tasks in the 1g default JVM is OOM-flaky)
    _cpus = os.environ.get("SPARK_GRAFT_CPUS")
    spark = session(app="streaming-pipeline-example",
                    master=f"local[{_cpus}]" if _cpus else None,
                    **{"spark.driver.memory":
                       os.environ.get("SPARK_GRAFT_MEM", "4g")})
    spark.sparkContext.setLogLevel("ERROR")

    # time-ordered replay files (one micro-batch per file)
    root = _stage_stream_daily(sf_dir)
    sdf = (spark.readStream
           .schema("cell BIGINT, ts TIMESTAMP, qty DOUBLE")
           .option("maxFilesPerTrigger", 1)
           .parquet(f"{root}/part_*.parquet"))

    # 1. stateful fire-weather system over the live feed
    met = (sdf.filter(F.col("qty") >= 0.0)
           .withColumn("tas", (F.col("qty") - 25.0) * 1.5)
           .withColumn("prcp",
                       F.greatest(F.lit(0.0), F.col("qty") - 30.0))
           .withColumn("hurs", F.least(F.lit(99.0), 30.0 + F.col("qty")))
           .withColumn("ws", 5.0 + F.col("qty") / 2.0))
    fwi = streaming_cffwis(met, tas="tas", pr="prcp", hurs="hurs",
                           ws="ws", lat=47.0, time="ts", cell="cell",
                           season_method="WF93", overwintering=True,
                           outputs=("fwi",), num_blocks=8)

    # each micro-batch folds to (cell, month) partials, kept executor-side
    valid = F.col("fwi").isNotNull() & ~F.isnan("fwi")

    def fold(batch):
        return (batch.groupBy(
            "cell",
            F.to_date(F.date_trunc("month", "ts")).alias("period"))
            .agg(F.max(F.when(valid, F.col("fwi"))).alias("fwi_max_p"),
                 F.sum(valid.cast("long")).alias("days_p")))

    monthly = (run(fwi, fold=fold)
               .groupBy("cell", "period")
               .agg(F.max("fwi_max_p").alias("fwi_max"),
                    F.sum("days_p").alias("season_days")))
    n_months = monthly.count()

    # 2. bounded-state streaming dedup: first sighting of each
    #    (cell, month) key; state evicted behind the watermark
    sdf2 = (spark.readStream
            .schema("cell BIGINT, ts TIMESTAMP, qty DOUBLE")
            .parquet(f"{root}/part_*.parquet")
            .filter(F.col("qty") >= 0)
            .withColumn("period",
                        F.to_date(F.date_trunc("month", "ts"))))
    firsts = streaming_dedup_keys(sdf2, ["cell", "period"],
                                  time="ts", delay="90 days")
    n_keys = run(firsts.select("cell", "period")).count()

    print(f"monthly fire-weather rows : {n_months}")
    print(f"first-sighting keys       : {n_keys}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1
         else "/root/testdata/sf0.001")
