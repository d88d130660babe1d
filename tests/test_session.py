"""Session defaults come from the host, not from a 32-core, 48 GB one."""

import builtins
import io
import os

import pytest

from godal_spark import session


@pytest.mark.parametrize("total_kb,want", [
    (3 * 1024 * 1024, "1024m"),       # 3 GB host: a sixth is below 1 GB
    (15 * 1024 * 1024, "2560m"),      # 15 GB host: a sixth
    (64 * 1024 * 1024, "4096m"),      # 64 GB host: a sixth is above 4 GB
])
def test_driver_mem_default_from_meminfo(monkeypatch, total_kb, want):
    real_open = builtins.open

    def fake_open(path, *args, **kwargs):
        if path == "/proc/meminfo":
            return io.StringIO(f"MemTotal:       {total_kb} kB\n"
                               "MemFree:         1000 kB\n")
        return real_open(path, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", fake_open)
    assert session.driver_mem_default() == want


def test_executor_shape_fits_a_4_cpu_host(monkeypatch):
    """The 4N side of a scaling series on a 4-CPU, 15.7 GB host: its
    cores fit host_cpus() and its executors' memory stays under
    MemTotal (local-cluster[N, 4, 4096] asked for 16 cores and 16 GB)."""
    total_kb = int(15.7 * 1024 * 1024)
    real_open = builtins.open

    def fake_open(path, *args, **kwargs):
        if path == "/proc/meminfo":
            return io.StringIO(f"MemTotal:       {total_kb} kB\n")
        return real_open(path, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", fake_open)
    monkeypatch.setattr(session, "host_cpus", lambda: 4)
    for n in (1, 4):
        cores, mem_mb = session.executor_shape(n)
        assert (cores, mem_mb) == session.executor_shape(4)   # N and 4N alike
    assert 4 * cores <= session.host_cpus()
    assert 4 * mem_mb * 1024 < total_kb
    with pytest.raises(ValueError, match="do not fit"):
        session.executor_shape(64)


def test_host_cpus_is_the_affinity_count():
    assert session.host_cpus() == len(os.sched_getaffinity(0))


def test_running_session_uses_the_host_sized_heap(spark):
    want = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or session.driver_mem_default()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
