"""The SparkSession factory must not leak global state into the caller's
process: no ``sys.path`` entries and no ``PYTHONPATH`` rewrite (which
every Spark Python worker would inherit)."""

import os
import sys

from mini_lakehouse_control_plane_executor_spark import session


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
