"""bench.py's process plumbing, with no JVM: every child is checked."""

import os
import subprocess
import sys

import pytest

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_child_nonzero_exit_is_named():
    argv = [sys.executable, "-c",
            "import sys; print('{\"x\": 1}'); sys.stderr.write('boom'); sys.exit(3)"]
    with pytest.raises(bench.BenchChildError) as ei:
        bench._child(argv)
    assert ei.value.returncode == 3 and ei.value.argv == argv
    assert "boom" in ei.value.tail and "exited 3" in str(ei.value)


def test_child_without_json_is_named():
    with pytest.raises(bench.BenchChildError, match="with no JSON line") as ei:
        bench._child([sys.executable, "-c", "print('no json here')"])
    assert ei.value.returncode == 0


def test_child_returns_last_json_line():
    out = bench._child([sys.executable, "-c",
                        "print('{\"a\": 1}'); print('log'); print('{\"a\": 2}')"])
    assert out == {"a": 2}


def test_help_exits_zero():
    p = subprocess.run([sys.executable, os.path.join(ROOT, "bench.py"), "--help"],
                       capture_output=True, text=True, timeout=120)
    assert p.returncode == 0, p.stderr
    assert "--scaling" in p.stdout and "--family" in p.stdout


def test_scaling_fails_when_a_child_fails(tmp_path):
    """A child that cannot start Spark (no java where JAVA_HOME points)
    makes the series parent exit non-zero with the named error."""
    env = dict(os.environ, JAVA_HOME=str(tmp_path / "no-java"))
    p = subprocess.run([sys.executable, os.path.join(ROOT, "bench.py"),
                        "--scaling", "sieve", "--size", "4"],
                       capture_output=True, text=True, timeout=300, env=env)
    assert p.returncode != 0
    assert "BenchChildError" in p.stderr and "--setup" in p.stderr
