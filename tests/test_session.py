"""Session defaults are sized to the host they start on, and only the
session factory writes session conf."""

import ast
import json
import os
import subprocess
import sys

import runyoro_llm_data_pipeline_spark as pkg

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json
from runyoro_llm_data_pipeline_spark.session import get_spark
s = get_spark(app_name="defaults-probe")
print(json.dumps({"master": s.sparkContext.master,
                  "heap": s.sparkContext.getConf().get("spark.driver.memory")}))
s.stop()
"""


def _mb(size: str) -> int:
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024**2}
    return int(float(size[:-1]) * units[size[-1].lower()])


def test_default_master_and_heap_fit_the_host():
    """With neither ``SPARK_GRAFT_CPUS`` nor ``SPARK_DRIVER_MEM`` set, a
    fresh ``get_spark()`` asks for no more CPUs than the process may use
    and a driver heap of at most half the physical memory."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "PYSPARK_GATEWAY_PORT")
    }
    env["PYTHONPATH"] = REPO
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    cpus = len(os.sched_getaffinity(0))
    assert got["master"] == f"local[{cpus}]"
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < _mb(got["heap"]) <= phys_mb // 2


def test_engine_writes_no_session_conf():
    """``get_spark`` sets the session conf once, at build time; nothing
    else in the package calls ``<x>.conf.set(...)`` or
    ``<x>.conf.unset(...)``, so no ingest or query leaks a setting into
    later queries or races another run on the same session."""
    offenders = []
    pkg_dir = os.path.dirname(pkg.__file__)
    for dirpath, _, fns in os.walk(pkg_dir):
        for fn in fns:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or path == os.path.join(pkg_dir, "session.py"):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                func = node.func
                if (
                    isinstance(func, ast.Attribute)
                    and func.attr in ("set", "unset")
                    and isinstance(func.value, ast.Attribute)
                    and func.value.attr == "conf"
                ):
                    offenders.append(f"{os.path.relpath(path, pkg_dir)}:{node.lineno}")
    assert offenders == []


def test_shuffle_partitions_follow_the_master(monkeypatch):
    """``default_shuffle_partitions`` sizes the shuffle to the task slots
    each master string names, never below 8, with no session started:
    ``local[*]`` counts the host's CPUs and ``local-cluster[n,c,m]``
    counts n·c, where a plain ``int`` of the bracket would fail and fall
    back to 32."""
    from runyoro_llm_data_pipeline_spark.session import default_shuffle_partitions

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    assert default_shuffle_partitions("local[*]") == 12
    assert default_shuffle_partitions("local[*,3]") == 12
    assert default_shuffle_partitions("local[16]") == 16
    assert default_shuffle_partitions("local[4,2]") == 8
    assert default_shuffle_partitions("local[2]") == 8
    assert default_shuffle_partitions("local-cluster[4,4,14336]") == 16
    assert default_shuffle_partitions("local-cluster[2,1,1024]") == 8
    assert default_shuffle_partitions("local-cluster[8,4,2048]") == 32
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert default_shuffle_partitions("local[*]") == 8
    for other in (None, "yarn", "spark://host:7077", "k8s://https://host:443"):
        assert default_shuffle_partitions(other) == 32
