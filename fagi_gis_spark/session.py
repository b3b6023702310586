"""SparkSession factory tuned for this engine.

Local sandbox runs on ``local[N]`` (single JVM); the same config block is
what we'd ship via ``spark-submit --py-files`` on a real cluster — AQE on
(runtime re-plan + skew-join splitting), Arrow enabled for the pandas-UDF
geometry path, UTC session TZ so outputs compare bit-stable against the
DuckDB oracle.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

#: (applicationId, key) -> memoized value; see session_memo
_MEMO: dict = {}


def get_spark(
    app_name: str = "fagi_gis_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cores`` may be an int (local[N]) or "*". Shuffle partitions default
    to the core count — on a real cluster this is instead sized to
    ~2-3x total executor cores and AQE coalesces down at runtime.
    """
    # pin numeric libs to one thread per python worker: N workers each
    # spawning an OpenBLAS pool oversubscribes the host N*cores-fold and
    # inverts scaling (measured: local[32] slower than local[8] without
    # this). Spark tasks are the parallelism unit, not BLAS threads.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores in ("*",) else max(int(cores), 4)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_memo(spark: SparkSession, key: tuple, build: Callable[[], Any]) -> Any:
    """Driver-side memo scoped to the running Spark application: returns
    the value stored under ``key`` for this session, calling ``build()``
    once on a miss.  Entries of any other (stopped) application are
    evicted first — their DataFrames reference dead contexts and would
    otherwise pin memory for the process lifetime.  Callers namespace
    ``key`` with a leading tag (e.g. ``("hot_cells", ...)``)."""
    app = spark.sparkContext.applicationId
    for k in [k for k in _MEMO if k[0] != app]:
        del _MEMO[k]
    full = (app, key)
    if full not in _MEMO:
        _MEMO[full] = build()
    return _MEMO[full]
