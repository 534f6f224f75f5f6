"""Driver heap sizing (no Spark): the default heap comes from the host."""

from __future__ import annotations

import os

from bento_spark.session import default_driver_memory

GIB = 2**30


def _files(tmp_path, available_kb: int | None, cgroup: str | None):
    meminfo = tmp_path / "meminfo"
    lines = ["MemTotal:       16479424 kB"]
    if available_kb is not None:
        lines.append(f"MemAvailable:   {available_kb} kB")
    meminfo.write_text("\n".join(lines + ["MemFree:        1000 kB"]) + "\n")
    cg = tmp_path / "memory.max"
    if cgroup is not None:
        cg.write_text(cgroup + "\n")
    return str(meminfo), str(cg)


def test_half_of_available_memory(tmp_path):
    mi, cg = _files(tmp_path, 15925296, None)
    assert default_driver_memory(mi, cg) == "7776m"


def test_unlimited_cgroup_uses_available(tmp_path):
    mi, cg = _files(tmp_path, 8 * 1024 * 1024, "max")
    assert default_driver_memory(mi, cg) == "4096m"


def test_cgroup_limit_below_available_wins(tmp_path):
    mi, cg = _files(tmp_path, 15925296, str(3 * GIB))
    assert default_driver_memory(mi, cg) == "1536m"


def test_available_below_cgroup_limit_wins(tmp_path):
    mi, cg = _files(tmp_path, 2 * 1024 * 1024, str(64 * GIB))
    assert default_driver_memory(mi, cg) == "1024m"


def test_capped_at_24g_on_large_hosts(tmp_path):
    mi, cg = _files(tmp_path, 512 * 1024 * 1024, str(256 * GIB))
    assert default_driver_memory(mi, cg) == f"{24 * 1024}m"


def test_falls_back_to_physical_memory(tmp_path):
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    missing = str(tmp_path / "missing")
    assert default_driver_memory(missing, missing) == f"{min(phys_mb // 2, 24 * 1024)}m"


class _FakeBuilder:
    """Records the conf get_spark sets instead of starting a JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def test_overrides_win_over_host_size(monkeypatch):
    import bento_spark.session as session

    monkeypatch.setattr(session.SparkSession, "builder", _FakeBuilder())
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    conf = session.get_spark(master="local[2]")
    assert conf["spark.driver.memory"] == "3g"
    assert "-Xms3g" in conf["spark.driver.extraJavaOptions"]
    conf = session.get_spark(master="local[2]", extra_conf={"spark.driver.memory": "2g"})
    assert "-Xms2g" in conf["spark.driver.extraJavaOptions"]
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    monkeypatch.setattr(session, "default_driver_memory", lambda: "5000m")
    assert session.get_spark(master="local[2]")["spark.driver.memory"] == "5000m"
