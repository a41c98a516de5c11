"""Host-derived session defaults (threads, driver heap), checked
without starting a JVM."""

import os

import pytest

from extract_sf_r_parallel_spark import session


@pytest.fixture
def host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_mem_total_mib", lambda: 15 * 1024)
    return monkeypatch


def test_threads_default_to_usable_cpus(host):
    assert session.host_defaults()[0] == len(os.sched_getaffinity(0))
    host.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.host_defaults()[0] == 3


def test_default_heap_capped_at_physical_memory(host):
    assert session.host_defaults()[1] == f"{15 * 1024}m"
    host.setattr(session, "_mem_total_mib", lambda: 64 * 1024)
    assert session.host_defaults()[1] == f"{24 * 1024}m"
    host.setattr(session, "_mem_total_mib", lambda: None)
    assert session.host_defaults()[1] == f"{24 * 1024}m"


def test_explicit_heap_checked_against_physical_memory(host):
    for ok in ("2g", "15g", "2048m", "2048", "4GB"):
        host.setenv("SPARK_DRIVER_MEM", ok)
        assert session.host_defaults()[1] == ok
    for bad in ("16g", "24g", "1t", "20000m"):
        host.setenv("SPARK_DRIVER_MEM", bad)
        with pytest.raises(ValueError, match=f"SPARK_DRIVER_MEM={bad}"):
            session.host_defaults()
    host.setenv("SPARK_DRIVER_MEM", "lots")
    with pytest.raises(ValueError, match="SPARK_DRIVER_MEM"):
        session.host_defaults()


def test_real_meminfo_is_read():
    total = session._mem_total_mib()
    if os.path.exists("/proc/meminfo"):
        assert total is not None and total > 0
    else:
        assert total is None
