"""SparkSession construction with scale-appropriate defaults.

Local tests run on local[N]; the same config block is what we would ship to
a 1000-executor cluster -- AQE on (runtime shuffle-partition coalescing +
skew-join splitting), broadcast threshold sized for dimension tables, Arrow
enabled for the pandas-UDF kernels.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Tuned for the driver harness: local[32], 128 GiB box. On a real cluster
# spark.sql.shuffle.partitions should be ~2-3x total cores (or left to AQE
# coalescing from a high initial value); these are the knobs, not magic.
DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize":
        os.environ.get("SPARK_GRAFT_MIN_PART_SIZE", "64kb"),
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Echoes the reference's flush-every-200 granularity for API-mode
    # classification batches (survey_analysis.py:270-272): small Arrow
    # batches bound per-batch API latency/cost in the LLM kernel.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Spark 4.1's checkpoint-file checksums (on by default) make every
    # state-store delta close await an async checksum write; thread
    # dumps show stateful tasks parked in ChecksumCheckpointFileManager
    # .awaitResult for most of their wall time (measured: the stateful
    # micro-batch stages of streaming_asof_ooo drop ~40-50% with it
    # off). The engine's persisted stores carry their own application-
    # level integrity (staged commits + manifest fingerprints), and
    # state checkpoints remain recoverable; trade the redundant
    # per-file checksum for micro-batch latency. Overridable via
    # get_spark(extra_confs=...) where corruption detection on the
    # checkpoint FS is worth the latency.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled":
        os.environ.get("SPARK_GRAFT_STREAM_CKSUM", "false"),
}

# Checkpoint file manager: the default FileContext-based manager on a
# LOCAL filesystem with no libhadoop.so forks a /bin/chmod or readlink
# subprocess PER state-store file create/rename (Hadoop RawLocalFileSystem
# Shell fallback -- thread dumps showed 20+/32 stateful-commit tasks
# parked in Shell.runCommand; each fork from a large-heap JVM is
# 50-200ms). The FileSystem-based manager drives the same rename
# protocol through java.io.File -- no subprocesses. Injected by
# get_spark ONLY when the resolved master is local (round-15 ADVICE:
# on HDFS/S3A checkpoint volumes FileContext's atomic rename matters
# and no Shell fallback is involved, so Spark's default stands there);
# SPARK_GRAFT_CKPT_MGR overrides in either direction ("" keeps Spark's
# default even locally, a class name opts in anywhere).
_FS_CKPT_MGR = ("org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")


_NOFORK_FS_CLASS = "arapshim.NoForkLocalFileSystem"
_NOFORK_CP_MEMO: list = []  # [str | None] once probed


def _nofork_fs_classpath() -> str | None:
    """Classpath dir for the no-subprocess local FS shim (jvmshim/).

    Hadoop's RawLocalFileSystem without libhadoop.so forks a /bin/chmod
    subprocess per created file/dir (Shell fallback in setPermission);
    the two-class shim applies the same permissions in-process via
    java.nio. Compiled lazily (once) from the committed sources when
    javac + the hadoop-client jar are available; returns None (shim
    disabled, stock behavior) otherwise. Local-mode optimization only:
    set SPARK_GRAFT_NOFORK_FS="" to disable, e.g. when the job's data
    actually lives on HDFS/S3 and fs.file.impl should stay stock.
    """
    import glob
    import subprocess

    if _NOFORK_CP_MEMO:  # probe (incl. a failed compile) runs once
        return _NOFORK_CP_MEMO[0]
    _NOFORK_CP_MEMO.append(None)

    shim_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "jvmshim")
    cls = os.path.join(shim_dir, "arapshim", "NoForkLocalFileSystem.class")
    if os.path.isfile(cls):
        _NOFORK_CP_MEMO[0] = shim_dir
        return shim_dir
    srcs = glob.glob(os.path.join(shim_dir, "arapshim", "*.java"))
    if not srcs:
        return None
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    hadoop_jars = glob.glob(os.path.join(spark_home, "jars",
                                         "hadoop-client-api-*.jar"))
    if not hadoop_jars:
        return None
    try:
        subprocess.run(["javac", "-cp", hadoop_jars[0], "-d", shim_dir,
                        *srcs], check=True, capture_output=True, timeout=60)
    except Exception:
        return None
    if os.path.isfile(cls):
        _NOFORK_CP_MEMO[0] = shim_dir
        return shim_dir
    return None


def resolve_confs(eff_master: str,
                  extra_confs: dict[str, str] | None = None
                  ) -> dict[str, str]:
    """The session conf map get_spark applies for *eff_master* --
    split out so the LOCAL-vs-cluster gating is unit-testable without
    launching a second SparkContext. Empty-string values mean "keep
    Spark's default" (get_spark skips them)."""
    confs = {**DEFAULT_CONFS, **(extra_confs or {})}
    # LOCAL-mode-only defaults (round-15 ADVICE): both the FileSystem-
    # based checkpoint manager and the no-fork local FS shim are fixes
    # for local-filesystem subprocess forks; with a cluster master the
    # manager would weaken HDFS/S3 checkpoint atomicity and the shim's
    # extraClassPath would not exist on executors.
    is_local = eff_master.startswith("local")
    mgr = os.environ.get("SPARK_GRAFT_CKPT_MGR")
    if mgr is None:
        mgr = _FS_CKPT_MGR if is_local else ""
    confs.setdefault(
        "spark.sql.streaming.checkpointFileManagerClass", mgr)
    shim_cp = None
    if is_local and os.environ.get("SPARK_GRAFT_NOFORK_FS", "1") != "":
        shim_cp = _nofork_fs_classpath()
    if shim_cp is not None:
        # both only take effect when the get_spark call launches the
        # JVM; its post-create probe handles a pre-existing JVM safely
        confs.setdefault("spark.driver.extraClassPath", shim_cp)
        confs.setdefault("spark.executor.extraClassPath", shim_cp)
        confs.setdefault("spark.hadoop.fs.file.impl", _NOFORK_FS_CLASS)
    return confs


def get_spark(app_name: str = "automated-review-analysis-pipeline-spark",
              master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    eff_master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(eff_master)
    confs = resolve_confs(eff_master, extra_confs)
    shim_cp = confs.get("spark.driver.extraClassPath")
    if confs.get("spark.hadoop.fs.file.impl") != _NOFORK_FS_CLASS:
        shim_cp = None
    for k, v in confs.items():
        if v == "":  # env override set to empty = keep Spark's default
            continue
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shim_cp is not None:
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        if hconf.get("fs.file.impl") == _NOFORK_FS_CLASS:
            try:
                spark.sparkContext._jvm.java.lang.Class.forName(
                    _NOFORK_FS_CLASS)
            except Exception:
                # JVM predates the extraClassPath (session reuse /
                # spark-submit launch): the class is unloadable, so the
                # conf would break every file:// access -- drop it
                hconf.unset("fs.file.impl")
    return spark


def driver_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-side ``rows``, a list of tuples (or Rows)
    in *schema*'s column order; *schema* is a StructType or a DDL
    string and is kept exactly. The package's one way to turn driver
    data into a frame.

    The data crosses to the JVM as Arrow, so the plan is a
    ``LocalRelation``: collecting or broadcasting it runs no job, an
    empty one is pruned by the optimizer, and no Python worker starts.
    ``spark.createDataFrame(<list>, schema)`` instead pickles the rows
    into an RDD that every action re-reads in ``defaultParallelism``
    Python tasks, even when the list is empty."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)
