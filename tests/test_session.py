"""Session sizing (no Spark): the default master and heap come from the
host, and a heap the host cannot hold fails before the JVM starts."""

from __future__ import annotations

import os
import re

import pytest

from bento_spark import session
from bento_spark.session import check_driver_memory, default_driver_memory, default_master

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

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def test_overrides_win_over_host_size(monkeypatch):
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


def test_default_master_from_graft_cpus_else_affinity(monkeypatch):
    monkeypatch.setattr(session.SparkSession, "builder", _FakeBuilder())
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda _pid: {0, 1, 2, 5, 6, 7})
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_master() == "local[6]"
    conf = session.get_spark(extra_conf={"spark.driver.memory": "1g"})
    assert conf["master"] == "local[6]" and conf["spark.sql.shuffle.partitions"] == "12"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_master() == "local[3]"
    assert session.get_spark(extra_conf={"spark.driver.memory": "1g"})["master"] == "local[3]"


def test_heap_above_host_limit_fails_before_jvm(tmp_path, monkeypatch):
    mi, cg = _files(tmp_path, 15925296, str(4 * GIB))
    check_driver_memory("4g", mi, cg)
    check_driver_memory("4096m", mi, cg)
    with pytest.raises(ValueError, match=r"driver heap 4097m \(4097 MB\) > 4096 MB available"):
        check_driver_memory("4097m", mi, cg)
    with pytest.raises(ValueError, match=r"24g \(24576 MB\) > 4096 MB"):
        check_driver_memory("24g", mi, cg)
    with pytest.raises(ValueError, match="not a JVM memory size"):
        check_driver_memory("lots", mi, cg)

    # through get_spark: explicit conf or env above the limit never reaches the builder
    class _NoJvm(_FakeBuilder):
        def getOrCreate(self):
            raise AssertionError("builder reached")

    monkeypatch.setattr(session.SparkSession, "builder", _NoJvm())
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    host_limit = session.memory_limit
    monkeypatch.setattr(session, "memory_limit", lambda *_: host_limit(mi, cg))
    with pytest.raises(ValueError, match=r"8g \(8192 MB\) > 4096 MB"):
        session.get_spark(master="local[2]", extra_conf={"spark.driver.memory": "8g"})
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    with pytest.raises(ValueError, match=r"5g \(5120 MB\) > 4096 MB"):
        session.get_spark(master="local[2]")
    # a running JVM keeps its heap (getOrCreate reuses it): nothing to check
    monkeypatch.setattr(session.SparkContext, "_gateway", object())
    with pytest.raises(AssertionError, match="builder reached"):
        session.get_spark(master="local[2]")
    # the derived default always fits
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    with pytest.raises(AssertionError, match="builder reached"):
        session.get_spark(master="local[2]")


def test_local_star_counts_the_cores_this_process_may_use(monkeypatch):
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda _pid: {0, 3, 5})
    monkeypatch.setattr(session.os, "cpu_count", lambda: 64)
    assert session.local_cores("local[*]") == 3
    assert session.local_cores("local[7]") == 7
    assert session.local_cores("yarn") is None


def test_unusable_local_dir_fails_before_jvm(tmp_path, monkeypatch):
    ok, missing = tmp_path / "ok", tmp_path / "a" / "b"
    blocked = tmp_path / "blocked"
    blocked.write_text("a regular file where the directory should be")
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    session.check_local_dirs(None)
    session.check_local_dirs(f"{ok},{missing}")
    assert ok.is_dir() and missing.is_dir()
    with pytest.raises(ValueError, match=re.escape(f"local dir '{blocked}' from spark.local.dir")):
        session.check_local_dirs(f"{ok},{blocked}")
    with pytest.raises(ValueError, match=re.escape(f"local dir '{blocked / 'sub'}' from spark.local.dir")):
        session.check_local_dirs(str(blocked / "sub"))
    # SPARK_LOCAL_DIRS wins over spark.local.dir, as in Spark
    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{blocked},{ok}")
    with pytest.raises(ValueError, match=re.escape(f"local dir '{blocked}' from SPARK_LOCAL_DIRS")):
        session.check_local_dirs(str(ok))

    # through get_spark: the bad dir never reaches the builder
    class _NoJvm(_FakeBuilder):
        def getOrCreate(self):
            raise AssertionError("builder reached")

    monkeypatch.setattr(session.SparkSession, "builder", _NoJvm())
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    with pytest.raises(ValueError, match="from SPARK_LOCAL_DIRS"):
        session.get_spark(master="local[2]", extra_conf={"spark.driver.memory": "1g"})
    monkeypatch.delenv("SPARK_LOCAL_DIRS")
    with pytest.raises(ValueError, match="from spark.local.dir"):
        session.get_spark(master="local[2]", extra_conf={"spark.driver.memory": "1g",
                                                          "spark.local.dir": str(blocked)})
    with pytest.raises(AssertionError, match="builder reached"):
        session.get_spark(master="local[2]", extra_conf={"spark.driver.memory": "1g",
                                                          "spark.local.dir": str(ok)})
