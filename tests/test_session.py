"""session.py: the driver heap comes from the host, not a constant."""

from __future__ import annotations

from movie_recommendation_etl_spark import session


def test_driver_memory_env_takes_precedence(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"


def test_driver_memory_is_two_thirds_of_host_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    ram = session.host_ram_bytes()
    assert ram and ram > 0
    mem = session.default_driver_memory()
    assert mem == f"{ram * 2 // 3 // 2**20}m"
    # a heap larger than physical RAM gets the JVM OOM-killed mid-run
    assert int(mem[:-1]) * 2**20 < ram


def test_driver_memory_fallback_without_sysconf(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "host_ram_bytes", lambda **_: None)
    assert session.default_driver_memory() == "16g"
