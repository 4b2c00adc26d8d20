"""Packaging sanity: the compose stack, Dockerfile, Makefile, and the
long-running server entrypoint stay coherent with the code — checked
without a Docker daemon (CI additionally runs `docker compose config`)."""

import os
import re
import subprocess
import sys
import time
import urllib.request

import pytest
import yaml

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_compose_references_real_files_and_ports():
    with open(os.path.join(ROOT, "docker-compose.yml")) as fh:
        compose = yaml.safe_load(fh)
    svcs = compose["services"]
    assert set(svcs) == {"lakehouse", "prometheus", "grafana"}
    # the build context + dockerfile exist
    df = svcs["lakehouse"]["build"]["dockerfile"]
    assert os.path.exists(os.path.join(ROOT, df))
    # every host-mounted file exists in the repo
    for svc in svcs.values():
        for vol in svc.get("volumes", []):
            src = vol.split(":")[0]
            if src.startswith("./"):
                assert os.path.exists(os.path.join(ROOT, src)), src
    # prometheus scrapes the lakehouse service on the exposed REST port
    with open(os.path.join(ROOT, "monitoring/prometheus.yml")) as fh:
        prom = yaml.safe_load(fh)
    targets = [
        t
        for sc in prom["scrape_configs"]
        for s in sc["static_configs"]
        for t in s["targets"]
    ]
    assert "lakehouse:8080" in targets
    assert any("8080:8080" in p for p in svcs["lakehouse"]["ports"])


def test_dockerfile_runs_the_server_module():
    with open(os.path.join(ROOT, "docker/Dockerfile")) as fh:
        df = fh.read()
    assert "mini_lakehouse_control_plane_executor_spark.server" in df
    assert "pyspark==4.1.2" in df  # pinned to the tested runtime
    assert "duckdb" not in df  # a test-only oracle; the server never imports it
    for port in ("8080", "50051"):
        assert re.search(rf"EXPOSE.*{port}", df)


def test_package_never_imports_duckdb():
    """DuckDB is the tests' oracle engine, not a runtime dependency: no
    module of the package imports it."""
    import ast

    pkg = os.path.join(ROOT, "mini_lakehouse_control_plane_executor_spark")
    offenders = []
    for dirpath, _, names in os.walk(pkg):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    mods = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom):
                    mods = [node.module or ""]
                else:
                    continue
                if any(m.split(".")[0] == "duckdb" for m in mods):
                    offenders.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    assert offenders == []


def test_makefile_demo_target_runs_the_demo_module():
    with open(os.path.join(ROOT, "Makefile")) as fh:
        mk = fh.read()
    for target in ("test:", "demo:", "serve:", "bench:", "compose-config:"):
        assert target in mk, target
    assert "mini_lakehouse_control_plane_executor_spark.demo" in mk


@pytest.mark.parametrize("cores", ["", "8", "8,8", "8,x", "8,,32", "0,8"])
def test_scale_cores_rejects_bad_core_list(cores):
    """A paired core-scaling table needs two distinct positive counts;
    anything else exits non-zero before any bench run starts."""
    proc = subprocess.run(
        [sys.executable, "scale_cores.py"],
        cwd=ROOT,
        env=dict(os.environ, SPARK_GRAFT_SCALE_CORES=cores),
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode != 0
    assert "SPARK_GRAFT_SCALE_CORES" in proc.stderr


def test_server_entrypoint_serves_rest(tmp_path):
    """`python -m ..._spark.server` (the container entrypoint) comes up,
    answers /health and /metrics on the configured port, and shuts down
    cleanly on SIGTERM."""
    env = dict(
        os.environ,
        LAKEHOUSE_ROOT=str(tmp_path / "wh"),
        LAKEHOUSE_HOST="127.0.0.1",
        LAKEHOUSE_PORT="18947",
        SPARK_GRAFT_CPUS="2",
    )
    proc = subprocess.Popen(
        [sys.executable, "-m", "mini_lakehouse_control_plane_executor_spark.server"],
        cwd=ROOT,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
    )
    try:
        deadline = time.time() + 120
        last = None
        while time.time() < deadline:
            try:
                with urllib.request.urlopen(
                    "http://127.0.0.1:18947/health", timeout=2
                ) as resp:
                    assert resp.status == 200
                    break
            except Exception as exc:
                last = exc
                assert proc.poll() is None, "server exited early"
                time.sleep(1)
        else:
            raise AssertionError(f"server never came up: {last}")
        with urllib.request.urlopen(
            "http://127.0.0.1:18947/metrics", timeout=5
        ) as resp:
            assert b"lakehouse" in resp.read()
        proc.terminate()
        assert proc.wait(timeout=30) == 0
    finally:
        if proc.poll() is None:
            proc.kill()
