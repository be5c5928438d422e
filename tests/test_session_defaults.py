"""Session defaults come from the host: with ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEM`` unset, ``get_spark`` sizes itself to the CPUs this
process may run on and to a driver heap the host's memory can hold; set,
the variables win."""

import json
import os
import subprocess
import sys

from pdfplucker_spark import session


def _mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return kib / 2**20


def test_set_variables_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "1500m")
    assert session.default_cpus() == 3
    assert session.default_driver_mem() == "1500m"


def test_get_spark_with_variables_unset(tmp_path):
    """A fresh process (the JVM fixes driver memory at launch) with both
    variables unset: master, shuffle partitions and driver memory are the
    host-derived defaults."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")}
    code = (
        "import json, sys; sys.path.insert(0, sys.argv[1])\n"
        "from pdfplucker_spark.session import get_spark\n"
        "s = get_spark(app='defaults')\n"
        "c = s.sparkContext.getConf()\n"
        "print(json.dumps({'master': c.get('spark.master'),"
        " 'parts': s.conf.get('spark.sql.shuffle.partitions'),"
        " 'mem': c.get('spark.driver.memory')}))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, root], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    n = len(os.sched_getaffinity(0))
    assert got["master"] == f"local[{n}]"
    assert got["parts"] == str(n)
    mem = got["mem"]
    assert mem.endswith("g") and int(mem[:-1]) <= max(1, _mem_total_gib() / 2), got
