"""SparkSession factory.

Local-mode settings mirror what we would set on a real cluster: AQE on
(runtime re-planning, skew-join splitting, partition coalescing), shuffle
partitions sized to the parallelism actually available instead of the
200 default, Arrow enabled for the pandas-UDF slow path, UTC session
timezone so timestamp semantics match the DuckDB oracle.

The session's Hadoop ``Configuration`` is trimmed after start-up. Spark
serializes it into every write task and copies it for every scanned
file, and at start-up it holds 1,112 keys: 520 come only from
``yarn-default.xml``, which a ``local[N]`` session never reads, and 194
only from ``mapred-default.xml``, whose values repeat Hadoop's in-code
defaults (except the cloud committer factories,
``mapreduce.outputcommitter.factory.scheme.*``, which only
spark-hadoop-cloud's ``PathOutputCommitProtocol`` reads). Of the 357
keys that come only from ``core-default.xml``, 240 configure
filesystems and services a ``local[N]`` session never starts: the
clients of other filesystems (S3A, Azure, ADL, FTP, viewfs), Hadoop's
IPC/RPC, HA, HTTP, registry, ZooKeeper, SSL and metrics services, and
SequenceFile/MapFile/TFile and erasure-coding I/O (``UNUSED_CORE_PREFIXES``).
All those keys are unset from the two session-wide confs that every
task's conf is copied from, leaving 158 keys per query: 18 KB
serialized instead of 114 KB. Keys with any other source stay, and so do
the core-default.xml keys the local filesystem and Spark read:
``fs.AbstractFileSystem.*`` (FileContext, used by streaming
checkpoints), ``file.*``, ``fs.defaultFS``, the umask and trash keys,
the ``io.compression``/buffer keys and ``hadoop.security.*``. Values
Spark sets, ``spark.hadoop.*`` settings (also through ``extra_conf`` and
``SPARK_GRAFT_CONF_spark__hadoop__*``) and any ``*-site.xml`` stay too,
whatever their family.

No local write leaves a ``.crc`` checksum sidecar. The transaction log,
not the file system, is the commit point; a sidecar costs a ``chmod``
fork without native Hadoop libraries, a rename by the output committer
and a delete. ``get_spark`` turns checksum writing off, on every call,
on the JVM's cached ``file:`` FileSystem, which every local-mode task
shares (one rebuilt after ``FileSystem.closeAll()`` writes them again
until the next call). FileContext, which streaming checkpoints and the
file sink's ``_spark_metadata`` log use, gets ``RawLocalFs`` for
``file:`` in place of the checksumming ``LocalFs``. FileSystem reads
still verify any ``.crc`` that exists.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET

from pyspark.sql import SparkSession

# Driver heap cap when $SPARK_GRAFT_DRIVER_MEM is unset.
MAX_DRIVER_MEM_MB = 48 * 1024


def _default_driver_mem() -> str:
    """48g, or half the machine's physical memory if that is less.

    G1 grows the heap toward its cap rather than collect, so a cap above
    physical memory lets the JVM grow until the kernel kills it: the
    full test suite peaked at 14 GB RSS on a 16 GB machine under a 48g
    cap. Half leaves room for off-heap memory (RocksDB state, Arrow,
    Netty) and the Python workers."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(MAX_DRIVER_MEM_MB, phys // 2 // 2**20)}m"


# Hadoop default resources whose keys are unset from the session's
# Hadoop conf (see the module docstring).
UNUSED_DEFAULT_RESOURCES = frozenset({"yarn-default.xml", "mapred-default.xml"})

# Key families of core-default.xml that configure filesystems and
# services a local[N] session never uses; a key in them is unset only
# when core-default.xml is its only source.
UNUSED_CORE_PREFIXES = (
    # other filesystems' clients
    "fs.s3a.", "fs.azure.", "fs.abfs", "fs.wasb", "fs.adl.", "adl.",
    "fs.ftp.", "ftp.", "fs.viewfs.",
    # Hadoop services
    "ipc.", "rpc.", "ha.", "hadoop.http.", "hadoop.registry.", "hadoop.zk.",
    "hadoop.ssl.", "hadoop.prometheus.", "hadoop.caller.", "hadoop.rpc.",
    "nfs.", "net.topology.",
    # SequenceFile/MapFile/TFile and erasure-coding I/O
    "io.seqfile.", "seq.io.", "io.map.", "io.mapfile.", "tfile.",
    "io.erasurecode.",
)


def unused_key(name: str, sources: set[str]) -> bool:
    """Whether the trim unsets the key ``name`` with these ``sources``."""
    if not sources:
        return False
    if sources <= UNUSED_DEFAULT_RESOURCES:
        return True
    return sources == {"core-default.xml"} and name.startswith(UNUSED_CORE_PREFIXES)


def _trim_hadoop_conf(spark: SparkSession, conf) -> None:
    """Unset every key of the Hadoop ``Configuration`` ``conf`` that
    ``unused_key`` names.

    Keys and their sources are read in one ``writeXml`` round trip; a
    py4j call per key to read them took 0.26 s per conf."""
    out = spark._jvm.java.io.StringWriter()
    conf.writeXml(out)
    for prop in ET.fromstring(out.toString()).iter("property"):
        name = prop.findtext("name")
        if unused_key(name, {e.text for e in prop.iter("source")}):
            conf.unset(name)


def get_spark(
    app_name: str = "mini_lakehouse_control_plane_executor_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` then to all local cores.
    ``shuffle_partitions`` defaults to ``cpus`` — on a real cluster this
    would be ~2-3× total executor cores; AQE coalesces down from there.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Required for DataSourceReader.pushFilters (the minilake
        # Python data source prunes snapshot files via log stats).
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # INT96 (the legacy default) carries NO parquet min/max stats;
        # TIMESTAMP_MICROS does — required for time-range file pruning
        # in the table layer, and the modern ecosystem default anyway.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # The transaction log is the file index: table reads hand Spark
        # the snapshot's exact file list. Past this threshold (default
        # 32 paths) InMemoryFileIndex re-lists those paths with a
        # distributed job of one task per file — a 400-file snapshot
        # read cost a 400-task job before planning could finish. At
        # Int.MaxValue the driver stats each listed file instead, with
        # no Spark job. Local-filesystem storage; an object store would
        # pay one serial HEAD per file here.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # No .crc from FileContext writes (see the module docstring).
        .config(
            "spark.hadoop.fs.AbstractFileSystem.file.impl",
            "org.apache.hadoop.fs.local.RawLocalFs",
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # RocksDB state store: the HDFS-backed provider keeps every
        # key in executor heap, RocksDB spills to local disk with
        # changelog checkpointing.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    )
    # Deployment-specific overrides without code edits: every
    # SPARK_GRAFT_CONF_<key> env var (key with '.' encoded as '__',
    # e.g. SPARK_GRAFT_CONF_spark__sql__shuffle__partitions=512) is
    # applied LAST, so cluster operators can retune any scale-dependent
    # knob above (shuffle partitions, broadcast threshold, codec …)
    # per environment while the local defaults stay bench-comparable.
    overrides = dict(extra_conf or {})
    for env_k, env_v in os.environ.items():
        if env_k.startswith("SPARK_GRAFT_CONF_"):
            overrides[env_k[len("SPARK_GRAFT_CONF_"):].replace("__", ".")] = env_v
    for k, v in overrides.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Every query's conf (sessionState().newHadoopConf()) is a copy of
    # the context's conf, and so is the shared state's. The shared state
    # is fetched first: building it loads HdfsConfiguration, whose new
    # default resources reload every live conf and would undo a trim.
    shared_conf = spark._jsparkSession.sharedState().hadoopConf()
    _trim_hadoop_conf(spark, spark._jsc.hadoopConfiguration())
    _trim_hadoop_conf(spark, shared_conf)
    # A running session takes a builder's spark.hadoop.* setting as a
    # runtime SQL conf under its raw key; only a new context copies it
    # into the Hadoop conf. Set those keys here so they also apply when
    # the session already existed.
    for k, v in overrides.items():
        if k.startswith("spark.hadoop."):
            for conf in (spark._jsc.hadoopConfiguration(), shared_conf):
                conf.set(k[len("spark.hadoop."):], v)
    # Set on every call: FileSystem.closeAll() drops the cached
    # instance, and its replacement writes checksums again.
    spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()
    ).setWriteChecksum(False)
    return spark
