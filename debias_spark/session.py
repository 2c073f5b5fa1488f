"""SparkSession factory.

Local testing runs on local[$SPARK_GRAFT_CPUS] (default all cores); the same
config block is what we would ship to a 1000-executor cluster: AQE on
(runtime re-plan, skew-join splitting, partition coalescing), Arrow for every
Python<->JVM exchange, nested-schema pruning for the annotation structs.
Only the master URL and memory sizing are local-mode artifacts.
"""

from __future__ import annotations

import os
import pathlib

from pyspark.sql import SparkSession

APP_NAME = "debias-spark"

# The directory that holds the debias_spark package.  Python workers unpickle
# annotator closures by importing debias_spark, and a worker's sys.path is
# its own: the driver's cwd or sys.path edits do not reach it.
_PACKAGE_PARENT = str(pathlib.Path(__file__).resolve().parent.parent)

# Scale posture (SURVEY §6): these settings are chosen for correctness at
# local scale AND sanity at cluster scale.  shuffle.partitions=32 matches
# local[32]; on a real cluster AQE coalesces the initial number downward, so
# a larger initial value (e.g. 2000) with AQE is the production setting —
# documented here rather than hard-coded because the driver pins local[32].
_BASE_CONF = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Annotator batches (SURVEY F1): the reference batches one whole file per
    # API call; we batch by Arrow record batch instead.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Nested-schema pruning so tag-struct projections prune at the scan.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # InferFiltersFromConstraints substitutes computed columns into inferred
    # isnotnull filters, inlining expensive expressions (sketch fingerprints
    # are interpreted higher-order lambdas) several times per row below the
    # projection that computes them.  Our plans carry explicit filters, so
    # inferred constraints only cost here.
    "spark.sql.constraintPropagation.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # Some testdata generations carry events.ts as TIMESTAMP(NANOS), which
    # Spark has no native type for: read as epoch-nanos long, and
    # catalog.py rebuilds a timestamp_ntz column (exact integer arithmetic,
    # no double round-trip).  Harmless for µs-timestamp generations, where
    # catalog.py detects the timestamp dtype and skips the rebuild.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(app_name: str = APP_NAME, extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) the session.  Honors $SPARK_GRAFT_CPUS for local[N]."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in _BASE_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    # Spark appends the driver's $PYTHONPATH to this on the workers.
    builder = builder.config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    # shuffle/spill scratch: the bench band protocol points this at tmpfs
    # (DEBIAS_LOCAL_DIR=/dev/shm/...) so spill IO stops timing co-tenant
    # disk contention; default (unset) keeps Spark's own /tmp behavior
    local_dir = os.environ.get("DEBIAS_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
