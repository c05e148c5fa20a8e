"""SparkSession factory with scale-oriented defaults.

The reference pipeline (wikicaps_etl_pipeline.py:62-100) hand-manages thread
pools and process counts; here a single session config governs parallelism and
the engine relies on Spark's scheduler. Defaults are tuned so the same code
runs on local[*] for tests and on a real cluster unchanged:

* AQE on (dynamic coalesce, skew-join splitting) — the 100 TB path depends on
  runtime re-planning, and it is free at small SF.
* Arrow enabled for every pandas-UDF boundary (the only Python hot paths).
* UTC session timezone so timestamp semantics match the DuckDB oracle and are
  stable across cluster node timezones.
* Codegen cache sized to the engine's working set. Spark's default cache of
  100 generated classes is a Guava cache split into 4 segments that each
  evict LRU at ~25 entries. A repeated ``iterative_dedup`` perfbench pass
  (``order_graph_pagerank`` then ``near_dup_jaccard``) touches ~97 classes,
  so at the default every pass recompiled 26-52 classes the previous pass
  had compiled. 1000 entries (250 per segment) hold that set and the widest
  single suite query (``corpus_curation_v3``, 130 classes at sf0.001); a
  generated class averages ~2.5 KB of bytecode. The key is a static SQL
  conf: it takes effect only through the builder config ``get_spark``
  applies when it creates the session, not through ``spark.conf.set`` or a
  later ``get_spark`` call on a live session.
* Python workers find the package. A ``mapInPandas`` closure that
  cloudpickle ships by reference (``multimodal/images.py`` pickles
  ``RawGrid`` and the transformation classes that way) makes each worker
  import ``wicsmmiretl_spark``; the workers do not see the driver's
  ``sys.path``, so a driver started outside the repo root failed there
  with ``ModuleNotFoundError``. ``spark.executorEnv.PYTHONPATH`` names the
  directory holding the package; Spark appends it to the worker's own
  ``PYTHONPATH`` rather than replacing it.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size for mapInPandas/pandas_udf: large enough to amortize
    # Python call overhead, small enough to bound executor memory per batch.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # At 100 TB this is sized by the cluster (#cores * 2-3); locally keep it
    # equal to parallelism so tiny SF tests don't schedule 200 empty tasks.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # The driver's events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
    # timestamp type, so read as long and rebuild micros in catalog.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Static: read once when the JVM first generates code (module docstring).
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Creation-time, like the cache size: where workers import the package.
    "spark.executorEnv.PYTHONPATH": str(Path(__file__).resolve().parent.parent),
}


def get_spark(app_name: str = "wicsmmiretl_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Master comes from ``SPARK_GRAFT_CPUS`` (``local[N]``) or defaults to
    ``local[*]``; on a real cluster the master is injected by spark-submit and
    the env var is simply absent.

    When a session is already active, only the explicit ``overrides`` are
    applied to it: ``_DEFAULTS`` are a creation-time baseline and must not
    reset runtime confs (say, a shuffle width) a caller has since set. Static
    confs in ``overrides`` are ignored on a live session, as Spark's builder
    ignores them.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]" if cpus else "local[*]")
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    live = SparkSession.getActiveSession() is not None
    for key, value in (overrides if live else {**_DEFAULTS, **overrides}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
