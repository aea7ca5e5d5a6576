"""SparkSession factory tuned for the extraction workload.

Local-mode defaults mirror what a 1000-executor deployment would set per
executor: AQE on (runtime re-plan + skew handling), Arrow transfer on with a
bounded records-per-batch (html payloads are large — SURVEY.md §4.1 item 3),
shuffle partitions sized to cores not the 200 default (a launcher's
``--conf spark.sql.shuffle.partitions`` stands).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# html blobs average tens of KB; keep Arrow batches ~8-32 MB
ARROW_BATCH_ROWS = 256

# SQL settings shared by the local session (get_spark) and the cluster
# profile (cluster_conf)
_SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE coalesce/re-plan below .cache() boundaries — by default a
    # cached plan pins its partitioning and the whole cached subtree runs
    # at full shuffle width even when 64 partitions hold a few MB
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.files.maxPartitionBytes": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
    "spark.sql.session.timeZone": "UTC",
    # one curate_job run alone touches about 110 generated classes, and the
    # default LRU cache of 100 evicts what the next run needs (static conf:
    # builder or spark-submit --conf only, never spark.conf.set)
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "smoldocling_ocr_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The session, on ``local[cores]`` when ``cores`` (or the
    SPARK_GRAFT_CPUS variable) gives N. Otherwise the master is the
    launcher's (``spark-submit --master``), and a plain ``python`` run with
    none gets pyspark's own ``local[*]``. The shuffle partition count is
    ``shuffle_partitions`` (default twice the cores, at least 8) unless the
    launcher set ``spark.sql.shuffle.partitions``."""
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS")
    if shuffle_partitions is None:
        n_cores = (os.cpu_count() or 8) if cores in (None, "*") else int(cores)
        shuffle_partitions = max(2 * n_cores, 8)

    builder = SparkSession.builder
    if cores is not None:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder.appName(app_name)
        .config(map=_SQL_CONF)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    # set on the session, not the builder: a builder setting would override
    # the count a launcher passed (spark-submit --conf), which must stand
    if not spark.sparkContext.getConf().contains("spark.sql.shuffle.partitions"):
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark.sparkContext.setLogLevel("WARN")
    return spark


def persisted_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD the session holds persisted blocks for (checkpoints
    and ``DataFrame.cache()`` buffers alike)."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


@contextmanager
def owned_blocks(spark: SparkSession) -> Iterator[None]:
    """Frees, on exit or raise, every checkpoint made inside the block.

    Block lifetime has one rule: the code that runs the action owns the
    scope. An operator may return a frame that reads a lazy
    ``localCheckpoint`` it made, so it cannot free that block itself; its
    caller wraps build and action in one scope. Only checkpoints are
    released (materialized or not — a lazy one is registered as soon as it
    is made): a ``DataFrame.cache()``/``persist()`` buffer backs a
    CacheManager entry, and unpersisting it by RDD id would leave a stale
    entry whose plan silently recomputes, so those stay with the
    CacheManager and their owner's ``DataFrame.unpersist``."""
    before = persisted_rdd_ids(spark)
    try:
        yield
    finally:
        for rdd_id, jrdd in spark.sparkContext._jsc.getPersistentRDDs().items():
            if int(rdd_id) not in before and jrdd.rdd().checkpointData().isDefined():
                jrdd.unpersist(False)


def release(frame: DataFrame) -> None:
    """Free the checkpoint ``frame`` reads now, inside a scope, once nothing
    will read it again. ``frame`` must be the checkpointed DataFrame itself
    (its logical plan is the ``LogicalRDD`` over the checkpointed RDD)."""
    frame._jdf.logicalPlan().rdd().unpersist(False)


def cluster_conf(executors: int = 1000, executor_cores: int = 8) -> dict[str, str]:
    """The spark-submit conf this job ships with on a real cluster —
    deployment profile as code, sized for the 100 TB / 10^12-doc target.

    Rationale per knob:
    * shuffle partitions ≈ 2× total cores so AQE coalesces down, never up
    * 64 MB scan splits: html-heavy rows make row-count per split the memory
      unit, not bytes; smaller splits bound Arrow batch memory per task
    * maxRecordsPerBatch matches session default (binary payloads are large)
    * codegen cache of 1000 classes: executors compile generated code per
      task too, and one curate run touches more classes than the default 100
    * speculation on: a straggling host re-runs tail extraction tasks — the
      fused stage is idempotent per partition
    * kryo + 128m buffer: element structs and markdown strings serialize hot
    * dynamicAllocation off: throughput jobs want stable executor count for
      the N vs 4N scaling contract to mean anything
    """
    total_cores = executors * executor_cores
    return {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(executor_cores),
        "spark.executor.memory": "24g",
        "spark.executor.memoryOverhead": "6g",  # Arrow + python workers
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        **_SQL_CONF,
        "spark.speculation": "true",
        "spark.speculation.quantile": "0.95",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.kryoserializer.buffer.max": "128m",
        "spark.dynamicAllocation.enabled": "false",
    }
