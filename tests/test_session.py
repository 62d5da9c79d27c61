"""Session defaults (kenlm_spark/session.py) that depend on the host."""

from kenlm_spark import session


def test_driver_memory_is_half_of_a_small_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_mem_total_kib", lambda: 15 * 2**20)
    assert session._driver_memory() == f"{15 * 2**10 // 2}m"


def test_driver_memory_caps_at_16g(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_mem_total_kib", lambda: 128 * 2**20)
    assert session._driver_memory() == "16384m"
    monkeypatch.setattr(session, "_mem_total_kib", lambda: None)
    assert session._driver_memory() == "16384m"


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setattr(session, "_mem_total_kib", lambda: 15 * 2**20)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert session._driver_memory() == "2g"


def test_mem_total_reads_meminfo(tmp_path):
    fake = tmp_path / "meminfo"
    fake.write_text("MemTotal:       15728640 kB\nMemFree:  1 kB\n")
    assert session._mem_total_kib(str(fake)) == 15728640
    assert session._mem_total_kib(str(tmp_path / "absent")) is None
