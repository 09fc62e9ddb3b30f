"""SparkSession factory with scale-oriented defaults.

Defaults chosen for correctness + scale:
- session timezone pinned to UTC so epoch<->timestamp functions are
  deterministic regardless of host tz (the reference bakes local wall
  time into epochs explicitly; see sources/io.py:localize_timestamps);
- AQE on (runtime coalescing, skew-join splitting);
- Arrow on (grouped-map pandas UDFs transfer columnar batches);
- on a session it starts on a local master, shuffle partitions equal
  to ``sc.defaultParallelism`` (N for ``local[N]``) unless something
  else sets them. A constant larger than the core count only adds
  tasks, and every task of a Python stage pays a fixed worker set-up
  cost. A cluster master keeps its deployment's setting, and a live
  session keeps its own value.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def get_spark(
    app_name: str = "polaroam-spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when the env var
    is set, else ``local[*]``. On a real cluster, pass ``master=None``
    and set ``spark.master`` externally (spark-submit); the builder only
    sets master when it resolves to a non-empty value.

    ``shuffle_partitions`` sets ``spark.sql.shuffle.partitions`` (also
    on a live session). Without it, a value from ``extra_conf``,
    spark-submit or spark-defaults wins; failing that, a session this
    call starts on a local master gets ``sc.defaultParallelism``, and a
    live session or a cluster master is left as it is.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None and "SPARK_MASTER" in os.environ:
        master = os.environ["SPARK_MASTER"]
    if master is None:
        # Respect a master configured externally (spark-submit --master
        # lands in spark.master via SparkConf); only default to local
        # when nothing is configured anywhere, so cluster deployments
        # never silently fall back to local mode.
        from pyspark import SparkConf

        if not SparkConf().contains("spark.master"):
            master = f"local[{cpus}]" if cpus else "local[*]"

    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Stop detection / clustering never needs more than a few hundred
        # MB per task; keep scan splits at the default 128MB and let AQE
        # coalesce small shuffle outputs.
        "spark.sql.parquet.filterPushdown": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
    }
    if shuffle_partitions:
        conf[_SHUFFLE_PARTITIONS] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        b = b.config(k, v)
    fresh = SparkContext._active_spark_context is None
    spark = b.getOrCreate()
    sc = spark.sparkContext
    if (
        fresh
        and sc.master.split("[")[0] == "local"
        and not sc.getConf().contains(_SHUFFLE_PARTITIONS)
    ):
        spark.conf.set(_SHUFFLE_PARTITIONS, str(sc.defaultParallelism))
    return spark


def fan_out(df, min_factor: int = 1):
    """Round-robin repartition ``df`` up to the session's default
    parallelism when its current layout has FEWER partitions — the
    guide-§2.5 "one huge unsplittable file" fix, scale-adaptive by
    construction: at corpus scale inputs arrive in >= cores splits
    and this returns ``df`` unchanged (zero added exchange), while a
    single-row-group fixture (every local parquet under ~128 MB is
    one split) stops serializing compute-heavy map stages onto one
    task. Use it ONLY above genuinely heavy per-row compute: the r19
    optimization round measured the exchange + 32-task scheduling
    overhead BEATING the win on every light map stage it was tried
    over (tokenizer encodes, classifier scorers, quality features,
    moment fits: all 1.5-2x slower with a blanket fan-out), and a
    ~2x win where per-row work is large (MinHash signatures over
    shingle sets). Streaming frames pass through untouched.
    """
    if df.isStreaming:
        return df
    try:
        nparts = df.rdd.getNumPartitions()
    except Exception:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism * int(
        min_factor
    )
    if nparts >= target:
        return df
    return df.repartition(target)


def materialize(df):
    """Eagerly materialize a DataFrame and cut its lineage — the
    per-iteration step of the label-propagation loops
    (clustering.cluster_stops_dbscan_distributed,
    dedup.duplicate_components).

    Uses a RELIABLE checkpoint when the session has a checkpoint
    directory configured (``sc.setCheckpointDir`` pointing at
    HDFS/object storage) — on a lossy cluster an executor failure
    cannot then force a full lineage recompute. Falls back to
    ``localCheckpoint`` (executor-local blocks, non-replicated)
    otherwise, which is the right call in local mode and on
    preemption-free clusters.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def release(df) -> None:
    """Free the storage behind a :func:`materialize` result once a
    later pipeline stage has superseded it (e.g. round N of an
    iterative contraction after round N+1 lands).

    Why this exists: localCheckpoint BLOCKS are reclaimed
    asynchronously by Spark's ContextCleaner once unreferenced, but
    reliable checkpoint FILES are never deleted unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (default
    false) — a 22-round connected-components run would otherwise leave
    22 edge-set snapshots in HDFS/object storage per call. This deletes
    the checkpoint directory of a reliably-checkpointed frame, or
    eagerly unpersists the blocks of a localCheckpoint one.

    Best-effort by design: it reaches the checkpointed RDD through the
    analyzed plan (``LogicalRDD``), and no-ops if the frame is not a
    checkpoint result or the accessor shape changes. Never call it on
    a frame that downstream lazy results still reference.
    """
    try:
        jrdd = df._jdf.queryExecution().analyzed().rdd()
    except Exception:
        return
    try:
        ckpt = jrdd.getCheckpointFile()
        if ckpt.isDefined():
            sc = df.sparkSession.sparkContext
            path = sc._jvm.org.apache.hadoop.fs.Path(ckpt.get())
            fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
            fs.delete(path, True)
            return
    except Exception:
        pass
    try:
        jrdd.unpersist(False)
    except Exception:
        pass
