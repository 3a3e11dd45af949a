"""Session defaults are sized to the host they start on."""

import json
import os
import subprocess
import sys

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
