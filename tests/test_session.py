"""The SparkSession factory must not leak global state into the caller's
process: no ``sys.path`` entries and no ``PYTHONPATH`` rewrite (which
every Spark Python worker would inherit). Its trim of the session's
Hadoop conf must hold after every I/O path the package uses."""

import json
import os
import subprocess
import sys

from mini_lakehouse_control_plane_executor_spark import session
from mini_lakehouse_control_plane_executor_spark.plans.query import SimpleQuery
from mini_lakehouse_control_plane_executor_spark.table.catalog import LakehouseSession
from mini_lakehouse_control_plane_executor_spark.table.schema import Field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_get_spark_leaves_pythonpath_and_sys_path_alone(spark, monkeypatch):
    # Start from an unset PYTHONPATH so a factory that prepends to it
    # shows up even when an earlier call in this process already did.
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.setattr(sys, "path", list(sys.path))
    pythonpath, path = os.environ.get("PYTHONPATH"), list(sys.path)
    # Same arguments as the suite's fixture, so the shared session's
    # runtime confs are left as they were.
    assert session.get_spark("mini_lakehouse_tests", cpus=8, shuffle_partitions=8) is spark
    assert os.environ.get("PYTHONPATH") == pythonpath
    assert sys.path == path


def test_default_driver_heap_fits_the_machine(spark, monkeypatch):
    """Without $SPARK_GRAFT_DRIVER_MEM the driver heap is capped at half
    of physical memory (48g at most), so the JVM cannot grow past what
    the machine has; the running session was built with that default."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    want = f"{min(48 * 1024, phys_mb // 2)}m"
    assert session._default_driver_mem() == want
    monkeypatch.setattr(os, "sysconf", lambda name: 2**17 if "PAGES" in name else 2**20)
    assert session._default_driver_mem() == "49152m"  # 128 GiB machine
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        assert spark.conf.get("spark.driver.memory") == want


def test_hadoop_settings_reach_a_running_session(spark, monkeypatch):
    """``spark.hadoop.*`` settings from ``extra_conf`` and from
    ``SPARK_GRAFT_CONF_*`` land in the Hadoop conf of every query even
    when ``get_spark`` returns an already running session."""
    monkeypatch.setenv("SPARK_GRAFT_CONF_spark__hadoop__minilake__probe__env", "8")
    got = session.get_spark(
        "mini_lakehouse_tests",
        cpus=8,
        shuffle_partitions=8,
        extra_conf={"spark.hadoop.minilake.probe.extra": "7"},
    )
    try:
        assert got is spark
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        assert conf.get("minilake.probe.extra") == "7"
        assert conf.get("minilake.probe.env") == "8"
    finally:
        for key in ("minilake.probe.extra", "minilake.probe.env"):
            spark.conf.unset(f"spark.hadoop.{key}")
            spark._jsc.hadoopConfiguration().unset(key)
            spark._jsparkSession.sharedState().hadoopConf().unset(key)


def run_every_io_path(spark, root):
    """Write and read back through each I/O path the package uses."""
    df = spark.range(20).selectExpr("id", "cast(id as string) s")
    for fmt in ("parquet", "csv", "json", "orc"):
        df.write.format(fmt).save(f"{root}/{fmt}")
        assert spark.read.format(fmt).load(f"{root}/{fmt}").count() == 20
    df.select("s").write.text(f"{root}/text")
    assert spark.read.text(f"{root}/text").count() == 20
    assert spark.sparkContext.textFile(f"{root}/text").count() == 20
    # A streaming checkpoint goes through Hadoop's FileContext.
    query = (
        spark.readStream.schema(df.schema).json(f"{root}/json")
        .writeStream.format("parquet")
        .option("checkpointLocation", f"{root}/checkpoint")
        .trigger(availableNow=True)
        .start(f"{root}/stream")
    )
    query.awaitTermination()
    assert spark.read.parquet(f"{root}/stream").count() == 20
    lake = LakehouseSession(spark, f"{root}/lake")
    lake.create_table("t", [Field("id", "int64"), Field("s", "string")])
    lake.insert("t", df)
    assert lake.table("t").read().count() == 20
    job_id = lake.submit_async(SimpleQuery(table_name="t"))
    assert len(lake.job_result(job_id)) == 20


def crc_files(root):
    """Checksum sidecars anywhere under ``root``."""
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".crc")
    )


def unused_default_keys(conf):
    """Keys of a Hadoop conf that the trim should have unset."""
    keys = []
    for entry in conf.iterator():
        sources = set(conf.getPropertySources(entry.getKey()) or ())
        if session.unused_key(entry.getKey(), sources):
            keys.append(entry.getKey())
    return keys


_TRIM_PROBE = """
import json, sys
from mini_lakehouse_control_plane_executor_spark.session import get_spark
from tests.test_session import crc_files, run_every_io_path, unused_default_keys
root = sys.argv[1]
spark = get_spark("trim", cpus=1, extra_conf={
    "spark.hadoop.mapreduce.job.reduces": "7",
    "spark.hadoop.fs.s3a.connection.maximum": "77",
})
run_every_io_path(spark, root + "/io")
conf = spark._jsparkSession.sessionState().newHadoopConf()
report = {
    "unused": unused_default_keys(conf),
    "size": conf.size(),
    "values": [conf.get(k) for k in
               ("mapreduce.job.reduces", "mapreduce.task.timeout", "mapreduce.job.maps",
                "fs.s3a.connection.maximum", "fs.AbstractFileSystem.file.impl")],
    "dropped": [conf.get(k) for k in
                ("fs.s3a.impl", "ipc.client.connect.timeout", "hadoop.http.staticuser.user",
                 "io.seqfile.compress.blocksize")],
    "crc": crc_files(root + "/io"),
}
# A FileSystem rebuilt after closeAll() writes checksums again until
# the next get_spark call.
df = spark.range(5)
spark._jvm.org.apache.hadoop.fs.FileSystem.closeAll()
df.write.parquet(root + "/closed")
get_spark("trim", cpus=1)
df.write.parquet(root + "/reopened")
report["crc_after_close"] = [bool(crc_files(root + d)) for d in ("/closed", "/reopened")]
print(json.dumps(report))
spark.stop()
"""


def test_hadoop_conf_stays_trimmed_after_every_io_path(tmp_path):
    """In a fresh session, no key the trim unsets (yarn-default.xml,
    mapred-default.xml, and core-default.xml's unused filesystem, service
    and SequenceFile families) is left in a query's Hadoop conf after
    every I/O path has run. A path that first loads a Hadoop class adding
    a default resource reloads every live conf from its resources
    (``Configuration.addDefaultResource``) and would silently undo the
    trim. The values a deployment sets through ``extra_conf`` or
    ``SPARK_GRAFT_CONF_spark__hadoop__*`` stay, in a dropped family too;
    one that only a trimmed resource sets is gone; FileContext's
    ``fs.AbstractFileSystem.file.impl`` stays, as the session's
    ``RawLocalFs``. No write of those paths (batch outputs, stream data
    files, the streaming checkpoint and ``_spark_metadata`` log, the
    table's ``data/``, an async job's ``results/<id>/``) leaves a
    ``.crc`` sidecar, and a
    second ``get_spark`` turns checksum writing off again on a
    FileSystem rebuilt after ``closeAll()``. A fresh JVM, because ``get_spark`` on a running session does not
    rebuild its Hadoop conf and trims it again."""
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM="512m",
        SPARK_GRAFT_CONF_spark__hadoop__mapreduce__task__timeout="1234",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _TRIM_PROBE, str(tmp_path)],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["unused"] == []
    assert out["dropped"] == [None] * 4
    assert out["size"] < 200  # 1,112 keys untrimmed
    assert out["values"] == ["7", "1234", None, "77", "org.apache.hadoop.fs.local.RawLocalFs"]
    assert out["crc"] == []
    assert out["crc_after_close"] == [True, False]
