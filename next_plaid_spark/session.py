"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same configs are the
ones we would set on a real cluster (AQE on, sensible shuffle partitions,
Arrow enabled for pandas UDF stages).

PySpark's DataFrame-debugging call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). When on, every
wrapped ``Column``/``functions`` call walks the Python stack, retries a
missing ``import ipykernel`` (a fresh ``sys.path`` scan each time) and
sends about ten py4j commands to record the call site; the first such call
also imports IPython into the Python process. The only loss is the Python
call-site context that an ``AnalysisException`` message would otherwise
carry; the JVM-side error and its Python traceback are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "next-plaid-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # never coalesce below the core count: AQE's advisory-size
        # coalescing collapses small shuffle outputs to ONE partition,
        # which serializes the doc-parallel numpy kernels downstream of
        # groupBy (measured ~2× on the sf0.1 funnel's approx/rerank
        # stages). Keeping ≥cores partitions costs nothing — the same
        # setting is standard practice on clusters to keep executors busy
        # minPartitionNum is deprecated since 3.2 (still effective in 4.x;
        # tests/test_session.py pins that it takes effect). The supported
        # path to the same outcome: parallelismFirst (default true) targets
        # default parallelism bounded below by minPartitionSize — dropping
        # that floor from 1 MB to 1 byte keeps tiny shuffles at ~cores
        # partitions even on a Spark that removes minPartitionNum.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", cpus)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "20000"),
        )
        # single-JVM local mode: driver heap IS executor memory. Measured
        # at sf0.1: a 24g heap is strictly WORSE than 8g (hybrid suite
        # 8-12s vs 6-7s post-warm — G1 pause inflation), and the working
        # set fits 8g with room; raise via env only for bigger SFs
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's events.parquet carries TIMESTAMP(NANOS) which Spark
        # rejects by default; read as long (ns since epoch) and do exact
        # integer bucket arithmetic on it (oracle parity: DuckDB epoch_ns)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows, schema):
    """createDataFrame for small driver-local row lists via pandas+Arrow.

    The list path (``createDataFrame(rows, schema)``) re-runs a pickled
    python→JVM conversion job on EVERY action over the frame — measured
    r14 at ~4-6 s per parquet write and ~0.4-1.0 s per count even for a
    handful of rows, a fixed tax paid once per action at any scale. The
    pandas path crosses via Arrow once (~0.2 s). Values are identical for
    the engine's local frames (ints/floats/strings/float-array columns, no
    NULLs); callers with exotic types should keep the list path.

    ``schema`` is a DDL string or StructType applied explicitly — no
    pandas type inference. Empty row lists fall back to the list path
    (nothing to accelerate, and empty pandas frames lose column dtypes).
    """
    rows = list(rows)
    if not rows:
        return spark.createDataFrame(rows, schema)
    if __debug__:
        # cheap contract guard (r15, ADVICE): a None slipping into a call
        # site would become NaN through pandas and silently diverge from
        # the list path instead of erroring. Identity scan (never ==, which
        # would broadcast over array-valued cells). Top-level cells only —
        # nested Nones are out of the documented contract but not scanned.
        first = rows[0]
        if isinstance(first, (tuple, list)):
            for r in rows:
                if any(v is None for v in r):
                    raise ValueError(
                        "local_df contract violation: NULL cell in driver "
                        "rows (use the createDataFrame list path instead)")
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows), schema)


def run_concurrently(spark: SparkSession, *fns):
    """Run each of ``fns`` on its own thread and return their results in
    order; once every call has finished, the first failure re-raises.

    Independent Spark jobs submitted this way back-fill each other's
    scheduling gaps. Each thread starts with a copy of the caller's Spark
    local properties (job group, description, scheduler pool), so its jobs
    are attributed to the caller's job group; a thread that sets its own
    description changes only its copy."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    with ThreadPoolExecutor(len(fns)) as ex:
        # one wrap per call: each wrap clones the properties once, and a
        # clone shared by two threads would share their descriptions too
        futs = [ex.submit(inheritable_thread_target(spark)(f)) for f in fns]
        return [f.result() for f in futs]
