"""SparkSession factory tuned for the graft's execution profile.

Local sandbox runs ``local[$SPARK_GRAFT_CPUS]`` (default 32) as the
stand-in for a multi-executor cluster; the configs below are the ones
that transfer to cluster mode: AQE on (runtime re-planning + skew-join
handling), Arrow UDF transfer on (the extraction engine is
pandas-batched, never per-row Python), shuffle partitions sized to the
core count, and parquet scan splits kept at 128 MiB.

Every session runs its Python workers under this package's daemon,
``scrapelect_spark.pyworker`` (``spark.python.daemon.module``).  Before
each task PySpark's worker calls ``importlib.invalidate_caches()``, and on
CPython 3.11 every ``zipimporter`` on the worker path then re-reads its
whole archive directory, once per cached package entry: 25-76 ms per
entry for the spark-core jar and 6-13 ms per entry for pyspark.zip.  That
added 0.16-0.36 s to every Python task, so an empty ``mapInPandas`` over
1 000 cached rows in 4 partitions took 0.33-0.55 s against 0.04-0.09 s
for the same write without Python (local[4], Python 3.11.7, Spark 4.1.2).
The daemon re-reads an archive only when its mtime or size changed: the
call then takes under 5 ms, and the empty ``mapInPandas`` 0.16-0.31 s.

The daemon is started as ``python -m scrapelect_spark.pyworker`` before
any ``--py-files`` entry reaches the worker path, so the session puts the
directory the driver imported this package from (under ``spark-submit
--py-files`` that is the zip itself) on ``spark.executorEnv.PYTHONPATH``.
Without it the daemon cannot start from a cwd outside the checkout, and
every Python UDF fails, even one that never imports the package.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory (or --py-files zip) this package was imported from
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "scrapelect-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    worker_path = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    shuffle = shuffle_partitions or max(int(cpus), 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", "scrapelect_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
