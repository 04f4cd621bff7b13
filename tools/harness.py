"""The measurement harness the scripts under ``tools/`` share: bench.py's
SparkSession conf, its warm-up and its timed loop, the ``CORRECTNESS_r*``
round label, and the 10x/100x datasets built on demand.

bench.py is the contract and is not edited, so this module mirrors it;
``tests/test_tools_harness.py`` reads bench.py's builder chain and fails
when the two drift apart.  It imports Spark only inside the functions
that start or drive a session.
"""

from __future__ import annotations

import gc
import glob
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from perfbench.inputs import scale_dir  # noqa: E402

SCRATCH = os.path.join(REPO, ".scratch")
#: make_sf1.py replicas of sf0.1 per on-demand dataset
REPLICAS = {"sf1": 10, "sf10": 100}


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def reps() -> int:
    return int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def testdata(sf: str) -> str:
    """The table directory TESTDATA.md lists for scale factor ``sf``."""
    return str(scale_dir(Path(REPO, "TESTDATA.md"), sf))


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", testdata("0.1"))


def conf(n_cpus: int | None = None) -> dict[str, str]:
    """bench.py's session conf on ``local[n_cpus]`` (default
    ``$SPARK_GRAFT_CPUS``): shuffle partitions = cores, AQE on with a
    1 kB coalescing floor, ``$SPARK_GRAFT_MEM`` driver, UI off."""
    n = str(n_cpus or cpus())
    return {
        "spark.master": f"local[{n}]",
        "spark.sql.shuffle.partitions": n,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1kb",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_MEM", "16g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def session(app: str, n_cpus: int | None = None):
    """Start bench.py's session, named ``app``."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(app)
    for key, value in conf(n_cpus).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm(spark, qs, sf: str) -> None:
    """bench.py's warm-up: the JVM and parquet footers through
    ``tg_mean_ms``, then the Python workers through one
    ``applyInPandas`` pass."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    qs["tg_mean_ms"](spark, sf).count()
    spark.range(n * 4).withColumn("g", F.col("id") % n) \
        .repartition(n, "g").groupBy("g") \
        .applyInPandas(lambda p: p, schema="id long, g long").count()


def timed(spark, fn, sf: str) -> list[float]:
    """bench.py's loop for one gate: one untimed rep, then
    ``$SPARK_GRAFT_BENCH_REPS`` timed reps into a ``noop`` sink.  Cached
    blocks are cleared and py4j handles collected after each rep, so no
    rep bills its cache to the next."""
    samples = []
    for rep in range(reps() + 1):
        t0 = time.time()
        fn(spark, sf).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        spark.catalog.clearCache()
        gc.collect()
        if rep:
            samples.append(dt)
    return samples


def round_label() -> str:
    """``$SPARK_GRAFT_ROUND``, else one past the newest
    ``CORRECTNESS_r*.json``."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return env if env.startswith("r") else f"r{env}"
    rounds = [int(os.path.basename(p)[len("CORRECTNESS_r"):-len(".json")])
              for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))]
    return f"r{(max(rounds) + 1) if rounds else 1:02d}"


def built(name: str) -> str:
    """``.scratch/<name>`` (``sf1`` or ``sf10``), built by
    ``tools/make_sf1.py`` when missing."""
    path = os.path.join(SCRATCH, name)
    if not os.path.exists(os.path.join(path, "lineitem.parquet")):
        print(f"building .scratch/{name} via tools/make_sf1.py ...",
              file=sys.stderr, flush=True)
        subprocess.check_call(
            [sys.executable, os.path.join(REPO, "tools", "make_sf1.py"),
             str(REPLICAS[name]), name])
    return path
