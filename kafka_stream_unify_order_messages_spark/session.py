"""Tuned SparkSession builder.

Defaults are chosen for the 100 TB design point (AQE on, skew-join handling,
partition coalescing) while remaining correct on local[N] test runs:

- ``spark.sql.session.timeZone=UTC`` so timestamp semantics are stable and
  match DuckDB's naive-timestamp reading of the same parquet.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` because the driver testdata
  stores ``events.ts`` as TIMESTAMP(NANOS), which Spark's vectorized reader
  refuses; sources.files.load_table converts the raw nanos back to
  timestamp_ntz with DuckDB-identical truncation.
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
- AQE + coalescePartitions + skewJoin: at scale, runtime re-planning fixes
  skewed shuffles and over-partitioned stages without manual tuning.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


# pyspark versions the fastworker's hand-copied socket protocol was
# verified against (pyspark_fastworker.py asserts the same pin at import)
_FASTWORKER_PYSPARK = ("4.1.2",)


def _env_flag(name: str) -> bool:
    """True when the env var is set to a truthy value ("", "0", "false",
    "no", "off" count as unset — round-13 A/B sweeps tripped on
    SPARK_GRAFT_STOCK_WORKER=0 activating the switch)."""
    return os.environ.get(name, "").strip().lower() not in (
        "", "0", "false", "no", "off",
    )


def _fastworker_conf(master: str = "local[*]") -> dict[str, str]:
    """Opt in to the memoized python worker (pyspark_fastworker.py) when
    it can actually be imported by the pyspark daemon.

    Upstream workers end EVERY task with ``importlib.invalidate_caches()``,
    which re-reads pyspark.zip's whole central directory — ~0.2 CPU-s per
    task of pure waste in reused workers (measured: an identity
    ``mapInPandas`` over 32 partitions costs ~7 CPU-s/run steady-state,
    row-count independent; see pyspark_fastworker.py). The custom worker
    module memoizes the invalidation on the python-includes set.

    The daemon resolves the module from its PYTHONPATH (inherited from the
    JVM, which inherits the driver process env), so this must run BEFORE
    the JVM launches and must also export the env var — conf alone cannot
    reach the daemon's import path. That mechanism only works in LOCAL
    mode (the executor daemon is a child of this process); on a cluster
    master the executor daemons cannot import the module and every
    python-boundary task would die at worker launch, so stay on the
    stock worker there (ship via spark.files + executorEnv.PYTHONPATH if
    ever needed at scale). Also stay stock if the module file is absent
    (package installed without the repo-root helper) or pyspark is not a
    pinned version the hand-copied socket protocol was verified against.
    """
    if _env_flag("SPARK_GRAFT_STOCK_WORKER"):
        return {}  # A/B kill-switch: measure against the stock worker
    if not master.startswith("local"):
        return {}
    import pyspark

    if pyspark.__version__ not in _FASTWORKER_PYSPARK:
        return {}
    root = Path(__file__).resolve().parent.parent
    if not (root / "pyspark_fastworker.py").is_file():
        return {}
    existing = os.environ.get("PYTHONPATH", "")
    parts = existing.split(os.pathsep) if existing else []
    if str(root) not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([str(root)] + parts)
    conf = {"spark.python.worker.module": "pyspark_fastworker"}
    if (root / "pyspark_fastdaemon.py").is_file():
        # throttled per-task gc (see pyspark_fastdaemon.py)
        conf["spark.python.daemon.module"] = "pyspark_fastdaemon"
    return conf


# Spark's own FileSystem-API checkpoint manager; see _checkpoint_conf
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _checkpoint_conf(master: str) -> dict[str, str]:
    """Write streaming checkpoints through the FileSystem API on local
    masters.

    Every micro-batch writes several checkpoint files: the offset, commit
    and file-source log entries plus one state delta per partition. Each
    goes through the checkpoint manager's write-temp-then-rename. Spark's
    default, the FileContext manager, checks the rename target with
    ``RawLocalFileSystem.getFileLinkStatus``. Without the native Hadoop
    library, that forks ``readlink`` several times per file. Local
    ``file://`` has no atomic no-replace rename, so both managers do the
    same check-then-rename; the FileSystem manager checks with ``exists``
    and renames with ``File.renameTo``, and forks no ``readlink``.
    Measured with perfbench ``stream_live`` on 4 cores: state commit
    7.3 s -> 0.45 s and WAL commit 0.93 s -> 0.25 s per window.
    ``ChecksumFileSystem`` still writes the ``.crc`` sidecars, so the
    checkpoint layout is the same and either manager can resume the
    other's checkpoint.

    Cluster masters keep FileContext: on HDFS its no-replace rename is
    atomic. A local master writing its checkpoint to HDFS can pin it back
    through ``extra_conf``.
    """
    if not master.startswith("local"):
        return {}
    return {"spark.sql.streaming.checkpointFileManagerClass": _FS_CHECKPOINT_MANAGER}


def get_spark(
    app_name: str = "kafka_stream_unify_order_messages_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a real cluster pass ``master=None`` with ``MASTER`` preset in the
    environment, or an explicit URL.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("MASTER", f"local[{cpus}]")

    builder = SparkSession.builder.appName(app_name).master(master)

    conf: dict[str, str] = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # High initial shuffle parallelism, coalesced DOWN by AQE — the
        # standard AQE deployment shape: a bare 32-partition cap would
        # force top-tier shuffles (events at x300 is 30M rows) into
        # multi-GB reduce partitions no matter how large the data grows,
        # while 512 lets AQE size partitions to the 64MB advisory target
        # in both directions. Measured neutral at sf0.1 bench scale
        # (AQE coalesces small shuffles back; only planning metadata
        # grows) and required for reduce-side parallelism headroom past
        # the x100 ramp tier.
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
        # REQUIRED companion to initialPartitionNum (round-11 workup of
        # the graph_bfs_hops 4.3s -> 10.9s bench drift): by default AQE
        # may NOT change the output partitioning of cached plans, so
        # every persist()/localCheckpoint() of a shuffled frame
        # materializes at the un-coalesced 512 — iterative operators
        # (BFS, pagerank, minhash signatures) then pay hundreds of
        # near-empty tasks per hop on every cache read. Measured at
        # sf0.1, quiet box: graph_bfs_hops 184.8 -> 35.2 CPU-s,
        # minhash_jaccard_estimate 140.2 -> 22.4, pagerank_dup_graph
        # 94.9 -> 7.9; steady-state bfs wall 12.1s -> 4.8s, back at the
        # pre-512 r8 level. The trade (Spark's reason for the
        # conservative default) is that a cached frame's partitioning
        # may no longer line up with a downstream join's expectation —
        # none of our persists are co-partitioning contracts, they are
        # reuse caches.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning":
            "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # PySpark 4 wraps every DataFrame API call to capture the user
        # call site for error enrichment — measured here at ~4 extra
        # py4j round-trips per call (errors/utils.py _with_origin:
        # getActiveSession + conf.get + PySparkCurrentOrigin.set/clear),
        # i.e. 40%+ of driver-side plan-BUILD time (r14 A/B over 24
        # builds: 7.7 s -> 4.4 s with it off; execution side also drops
        # the per-call set/clear churn). Pure driver overhead at any
        # scale — a 1000-executor job pays it identically. Cost: error
        # messages lose the DataFrame-API call-site line (the JVM stack
        # and error class are unchanged). Overridable via extra_conf.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        # memoized-invalidation python worker — see _fastworker_conf
        **_fastworker_conf(master),
        # no forked readlink per checkpoint file — see _checkpoint_conf
        **_checkpoint_conf(master),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def drop_cached_blocks(spark: SparkSession) -> None:
    """Release every cached/persisted block in the session.

    Operators legitimately persist()/localCheckpoint() intermediates they
    reuse WITHIN one query; a long-lived session (bench sweep, scale
    ramp, notebook) must drop them between measurements for two reasons:
    (a) localCheckpoint data is not evictable, so hundreds of queries
    accumulate blocks until the JVM OOMs (observed on the x100 ramp),
    and (b) Spark's CacheManager rewrites ANY later plan that
    canonically matches a cached one to read the InMemoryRelation — so
    a repeat timing of the same query silently measures a warm cache,
    not the plan. Measurement harnesses call this between RUNS, not
    just between queries.
    """
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)
