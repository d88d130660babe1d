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


def _one_task(spark, fn):
    """fn()'s string from inside one mapInArrow task."""
    def run(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"out": [fn()]})

    return spark.range(1, numPartitions=1).mapInArrow(run, "out string") \
        .collect()[0].out


def test_python_workers_run_the_worker_daemon(spark):
    def main_module():
        import sys

        return sys.modules["__main__"].__spec__.name

    assert _one_task(spark, main_module) == "godal_spark.worker_daemon"


def test_py_file_added_mid_session_is_importable(spark, tmp_path):
    """A zip shipped with addPyFile after tasks have run is importable by
    the next task (the contract entry_queries._ensure_workers_can_import
    relies on): the daemon's import cache must not hide a new archive."""
    import uuid
    import zipfile

    _one_task(spark, lambda: "warm")
    name = f"pyfile_probe_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", "ANSWER = 'from the zip'\n")
    spark.sparkContext.addPyFile(str(path))

    def load():
        import importlib

        return importlib.import_module(name).ANSWER

    assert _one_task(spark, load) == "from the zip"
