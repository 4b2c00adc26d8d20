"""Observability parity: per-job QueryExecutionMetrics
(``distributed_query_executor.go:510-524``) and the Prometheus /metrics
exposition (``pkg/observability/metrics.go``) — counters must move with
real job activity and survive a failed query."""

import json
import urllib.request

import pytest

from mini_lakehouse_control_plane_executor_spark.api.rest import LakehouseRestServer
from mini_lakehouse_control_plane_executor_spark.table.schema import Field


@pytest.fixture()
def server(lake):
    srv = LakehouseRestServer(lake).start()
    yield srv
    srv.stop()


def _seed(lake, spark):
    lake.create_table("m_t", [Field("id", "int64"), Field("v", "float64")])
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double")
    lake.insert("m_t", df)


def _scrape(srv):
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/metrics") as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"].startswith("text/plain")
        return resp.read().decode()


def _parse(text):
    out = {}
    for line in text.splitlines():
        if line.startswith("#") or not line.strip():
            continue
        name, value = line.rsplit(" ", 1)
        out[name] = float(value)
    return out


def test_query_metrics_and_prometheus_counters(server, lake, spark):
    _seed(lake, spark)
    job_id = lake.submit_async({"table_name": "m_t", "projection": ["id", "v"]})
    lake.job_wait(job_id)

    m = lake.query_metrics(job_id)
    assert m["status"] == "completed"
    assert m["total_tasks"] > 0 and m["completed_tasks"] == m["total_tasks"]
    assert m["total_stages"] > 0 and m["completed_stages"] == m["total_stages"]
    assert m["duration_ms"] is not None and m["duration_ms"] >= 0
    assert m["failed_tasks"] == 0 and m["running_tasks"] == 0
    # Reference format parity (distributed_query_executor.go:514-515):
    # start_time/end_time are RFC3339 strings, as Go's time.Time
    # marshals, not epoch-ms integers.
    import re

    rfc3339 = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z$"
    assert re.match(rfc3339, m["start_time"])
    assert re.match(rfc3339, m["end_time"])

    # Same payload over HTTP.
    with urllib.request.urlopen(
        f"http://127.0.0.1:{server.port}/queries/{job_id}/metrics"
    ) as resp:
        assert json.load(resp)["job_id"] == job_id

    vals = _parse(_scrape(server))
    assert vals['lakehouse_queries_total{status="completed"}'] >= 1
    assert vals["lakehouse_tasks_completed_total"] == m["total_tasks"]
    assert vals["lakehouse_rows_output_total"] == 10
    assert vals["lakehouse_rows_read_total"] == 10
    assert vals["lakehouse_object_store_bytes_read_total"] > 0
    assert vals["lakehouse_commits_total"] >= 2  # create + insert
    assert vals["lakehouse_tables"] >= 1
    assert vals["lakehouse_query_duration_seconds_count"] >= 1


def test_failed_query_counted(server, lake, spark):
    _seed(lake, spark)
    job_id = lake.submit_async({"table_name": "m_t", "projection": ["nope"]})
    with pytest.raises(RuntimeError):
        lake.job_wait(job_id)
    m = lake.query_metrics(job_id)
    assert m["status"] == "failed"
    # A FAILED job must not claim its stages/tasks completed.
    assert m["completed_stages"] == 0 and m["completed_tasks"] == 0
    assert m["current_stage"] == 0
    vals = _parse(_scrape(server))
    assert vals["lakehouse_query_failures_total"] >= 1
    assert vals['lakehouse_queries_total{status="failed"}'] >= 1


def test_failed_query_reports_real_task_counts(lake, spark):
    """A job that fails inside a Spark task reports the tasks it ran,
    with the failed ones counted, not zeros."""
    lake.create_table("ovf", [Field("id", "int64")])
    lake.insert("ovf", spark.createDataFrame([(2**62,), (2**62,)], "id long"))
    job_id = lake.submit_async(
        {"table_name": "ovf", "aggregates": [{"function": "sum", "column": "id"}]}
    )
    with pytest.raises(RuntimeError):
        lake.job_wait(job_id)  # ANSI sum overflows in a task
    m = lake.query_metrics(job_id)
    assert m["status"] == "failed"
    assert m["failed_tasks"] >= 1
    assert m["total_tasks"] >= m["completed_tasks"] + m["failed_tasks"]
    assert m["completed_stages"] < m["total_stages"]


def test_unknown_job_metrics_404(server):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/queries/does-not-exist/metrics"
    )
    try:
        urllib.request.urlopen(req)
        assert False, "expected 404"
    except urllib.error.HTTPError as err:
        assert err.code == 404


def test_commit_conflict_counter(server, lake, spark):
    _seed(lake, spark)
    t = lake.table("m_t")
    import pytest as _pytest

    from mini_lakehouse_control_plane_executor_spark.table.log import CommitConflictError

    before = _parse(_scrape(server)).get("lakehouse_commit_conflicts_total", 0)
    with _pytest.raises(CommitConflictError):
        t.log.commit(base_version=0, txn_id="stale-metrics", schema=t.fields)
    after = _parse(_scrape(server))["lakehouse_commit_conflicts_total"]
    assert after == before + 1


def test_compaction_counter(server, lake, spark):
    _seed(lake, spark)
    df = spark.createDataFrame([(99, 9.9)], "id long, v double")
    for _ in range(3):
        lake.insert("m_t", df)
    before = _parse(_scrape(server)).get("lakehouse_compactions_total", 0)
    lake.compact("m_t", force=True)
    after = _parse(_scrape(server))["lakehouse_compactions_total"]
    assert after == before + 1


def test_monitoring_configs_reference_only_exported_metrics(server):
    """monitoring/lakehouse_alerts.yml and the Grafana dashboard must
    only reference lakehouse_* series that GET /metrics actually exports
    (plus the summary's _sum/_count children and Prometheus's own `up`).
    Guards against alert rules silently going stale when the exporter
    changes."""
    import os
    import re

    text = _scrape(server)
    exported = set(re.findall(r"^(?:# TYPE )?(lakehouse_[a-z_]+)", text, re.M))
    # A summary named X exports X_sum / X_count children.
    for m in list(exported):
        exported.update({m + "_sum", m + "_count"})

    here = os.path.join(os.path.dirname(__file__), "..", "monitoring")
    sources = [
        os.path.join(here, "lakehouse_alerts.yml"),
        os.path.join(here, "grafana", "lakehouse-dashboard.json"),
    ]
    for path in sources:
        body = open(path).read()
        # Strip comment lines: they cite the REFERENCE's metric names.
        body = "\n".join(
            ln for ln in body.splitlines() if not ln.strip().startswith("#")
        )
        used = set(re.findall(r"lakehouse_[a-z_]+", body))
        missing = used - exported
        assert not missing, (os.path.basename(path), sorted(missing))

    # The scrape config points at the path the server actually serves.
    prom = open(os.path.join(here, "prometheus.yml")).read()
    assert "metrics_path: '/metrics'" in prom
    assert "lakehouse_alerts.yml" in prom
