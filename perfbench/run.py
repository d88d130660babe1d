"""godal_spark benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A single process drives Spark ``local[n]`` (n = min(nproc, 4) task slots)
and issues each pass of the workload's pipeline only after the previous
one has finished. Every pass is checked against answers prep.py computed
with numpy; a pass that raises or fails its check counts as failed.

Run shape (untraced, ``--trace 0``):

1. prep.py writes the inputs from the seed in a separate process;
2. set-up: launch the driver JVM and start a SparkSession, open the
   inputs, run one cold pass;
3. the timed window: the workload's fixed number of timed passes, then
   passes marked ``extra`` until ``--seconds`` have gone by. Extra passes
   are checked like the others but never enter ``items_per_s``, so the
   sample does not grow when passes get faster. There is no warm-up
   between the cold pass and the timed ones: every pass records its JIT
   and GC time, which shows how far the JVM still is from steady state.

The last stdout line is the result: ``items_per_s`` (items of one pass /
median wall of the timed passes), ``setup_s`` (step 2) and
``peak_rss_mb`` (peak VmHWM of the driver JVM plus its Python workers,
summed). Everything else - per-pass walls with their JIT and GC time,
the host record, the input digest - goes into the raw record, printed on
the line before and written to ``perfbench/.work/``.

``--trace 1`` gives the per-layer metrics instead (traced.py).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# an item is an image (tile_join) or a level-0 tile (raster_ingest)
ITEMS = "items/s"


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------

def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def meminfo_mb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise KeyError(key)


def fault_probe_ms() -> float:
    """Wall ms to first-touch a fresh 80 MB array (as bench.py probes it):
    seconds instead of tens of ms flag a host that is swapping or
    ballooning, which loadavg does not show."""
    import numpy as np

    t0 = time.perf_counter()
    np.arange(10_000_000, dtype=np.int64)
    return (time.perf_counter() - t0) * 1000.0


def cpu_ticks() -> list[int]:
    """The aggregate cpu line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def steal_pct(t0: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others since ``t0``: a
    contended host slows every pass without any sign in loadavg."""
    d = [b - a for a, b in zip(t0, cpu_ticks())]
    return 100.0 * d[7] / max(1, sum(d))


def java_version() -> str:
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    p = subprocess.run([java if os.path.exists(java) else "java",
                        "-XX:-UsePerfData", "-version"],
                       capture_output=True, text=True, timeout=60)
    return (p.stderr.splitlines() or ["?"])[0]


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _proc_children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def leftover_spark() -> list[int]:
    """Spark JVMs or pyspark workers started from this checkout that are
    still alive (an earlier run that did not stop them)."""
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            cmd = open(f"/proc/{d}/cmdline", "rb").read().replace(b"\0", b" ")
            cwd = os.readlink(f"/proc/{d}/cwd")
        except OSError:
            continue
        if cwd == ROOT and (b"org.apache.spark" in cmd or b"pyspark" in cmd):
            found.append(int(d))
    return found


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def host_record(seed: int) -> dict:
    import pyspark

    return {"loadavg": loadavg(), "fault_probe_ms": round(fault_probe_ms(), 1),
            "nproc": nproc(), "mem_total_mb": meminfo_mb("MemTotal"),
            "mem_available_mb": meminfo_mb("MemAvailable"),
            "spark": pyspark.__version__, "python": platform.python_version(),
            "java": java_version(), "seed": seed}


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

class Session:
    """The benchmark's SparkSession, sized from the host."""

    def __init__(self, slots: int, events: str | None):
        self.slots = slots
        self.events = events
        self.spark = None
        self.jvm_pid = None
        self.peak_rss_mb = 0.0
        # driver heap: a sixth of RAM, 1-4 GB; set before the JVM starts
        mem = min(4096, max(1024, meminfo_mb("MemTotal") // 6))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem}m"
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # every file Spark, the JVMs and the Python workers write stays in
        # the checkout (-UsePerfData: no /tmp/hsperfdata_* of either JVM)
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.conf = {"spark.local.dir": tmp,
                     "spark.driver.extraJavaOptions":
                         "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData "
                         f"-Djava.io.tmpdir={tmp}"}
        if events:
            os.makedirs(events, exist_ok=True)
            self.conf.update({"spark.eventLog.enabled": "true",
                              "spark.eventLog.dir": "file://" + events,
                              "spark.eventLog.compress": "false",
                              "spark.eventLog.rolling.enabled": "false"})

    def start(self):
        from pyspark import SparkContext
        from godal_spark.session import get_spark

        self.spark = get_spark("perfbench", cores=self.slots,
                               shuffle_partitions=2 * self.slots, extra=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def sample_rss(self) -> None:
        if self.jvm_pid is not None:
            total = sum(vm_hwm_mb(p) for p in descendants(self.jvm_pid))
            self.peak_rss_mb = max(self.peak_rss_mb, total)

    def shutdown(self) -> None:
        """Stop Spark and wait until the JVM and its workers have exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        pids = descendants(gw.proc.pid)
        gw.shutdown()
        gw.proc.stdin.close()      # the gateway JVM exits at EOF on stdin
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait(timeout=30)
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids[1:]):
            time.sleep(0.1)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------

class Loop:
    """Closed loop over one opened workload: each pass timed and checked."""

    def __init__(self, session: Session, wl, traced: bool, passes: list):
        self.session, self.wl, self.traced = session, wl, traced
        self.passes = passes
        self.ref = None
        self.spans = {}       # traced pass -> span name -> wall/jit
        self.outputs = {}     # traced pass -> what its actions returned

    def one(self, phase: str) -> dict:
        from spans import OTHER, Tracer, jvm_times

        spark = self.session.spark
        pid = len(self.passes)
        tr = Tracer(spark if self.traced else None, pid)
        if self.traced:   # jobs outside spans still belong to a pass
            spark.sparkContext.setJobGroup(f"{pid}:{OTHER}", OTHER)
        jit0, gc0 = jvm_times(spark)
        t0 = time.perf_counter()
        err, out = [], None
        try:
            out = self.wl.run(tr)
            wall = time.perf_counter() - t0
            err = self.wl.check(out, self.ref)
            if not err and self.ref is None:
                self.ref = out
        except Exception:   # a failed pass is counted, and the run goes on
            wall = time.perf_counter() - t0
            err = [traceback.format_exc(limit=-4)]
        finally:
            tr.release()
        jit1, gc1 = jvm_times(spark)
        self.session.sample_rss()
        rec = {"pass": pid, "phase": phase, "wall_s": wall,
               "jit_s": jit1 - jit0, "gc_s": gc1 - gc0, "ok": not err}
        if err:
            rec["errors"] = err[:3]
            print(f"pass {pid} ({phase}) failed: {err[0]}", file=sys.stderr)
        if self.traced:
            self.spans[pid] = tr.spans
            self.outputs[pid] = out
        self.passes.append(rec)
        return rec

    def window(self, seconds: float, timed: int) -> list[dict]:
        """``timed`` passes, then extra ones until ``seconds`` are up;
        returns the timed passes only."""
        t_end = time.perf_counter() + seconds
        recs = [self.one("timed") for _ in range(timed)]
        while time.perf_counter() < t_end:
            self.one("extra")
        return recs


def median_wall(recs: list[dict]) -> float:
    return statistics.median(r["wall_s"] for r in recs)


def set_up(session: Session, workload: str, d: str, manifest: dict,
           passes: list, traced: bool) -> tuple[Loop, dict]:
    """Session start, opening the inputs and the first (cold) pass."""
    from spans import OPEN, jvm_times
    from workloads import Workload

    scratch = os.path.join(WORK, "scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    t0 = time.perf_counter()
    session.start()
    t1 = time.perf_counter()
    session_jit = jvm_times(session.spark)[0]
    if traced:   # the jobs that read the inputs' schemas
        session.spark.sparkContext.setJobGroup(f"-1:{OPEN}", OPEN)
    wl = Workload(workload, session.spark, d, manifest, scratch)
    t2 = time.perf_counter()
    loop = Loop(session, wl, traced, passes)
    cold = loop.one("setup")["wall_s"]
    return loop, {"setup_s": t2 - t0 + cold, "session_s": t1 - t0,
                  "session_jit_s": session_jit, "open_s": t2 - t1,
                  "cold_pass_s": cold}


def measure(a, d: str, manifest: dict, slots: int, record: dict):
    session = Session(slots, None)
    passes = []
    try:
        loop, setup = set_up(session, a.workload, d, manifest, passes, traced=False)
        timed = loop.window(a.seconds, manifest["sizes"]["timed"])
    finally:
        session.shutdown()
    record.update({"setup": setup, "passes": passes,
                   "setup_contains": "driver JVM launch + SparkSession start, "
                   "opening the inputs, one cold pass"})
    items = manifest["expected"]["items"]
    return {
        "items_per_s": (items / median_wall(timed), ITEMS),
        "setup_s": (setup["setup_s"], "s"),
        "peak_rss_mb": (session.peak_rss_mb, "MB"),
    }, passes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="godal_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "godal_spark")):
        print(f"godal_spark not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from prep import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {WORKLOADS}", file=sys.stderr)
        return 2
    left = leftover_spark()
    if left:
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, "refused.log"), "a") as fh:
            fh.write(json.dumps({"time": time.time(), "workload": a.workload,
                                 "seed": a.seed, "alive": left}) + "\n")
        print(f"refusing to run: Spark processes of an earlier run alive: {left}",
              file=sys.stderr)
        return 3

    ticks = cpu_ticks()
    record = {"workload": a.workload, "trace": a.trace,
              "host": host_record(a.seed)}
    slots = min(nproc(), 4)
    record["slots"] = slots

    # inputs: always regenerated, in their own process
    d = os.path.join(WORK, "input")
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "prep.py"),
                    "--workload", a.workload, "--seed", str(a.seed),
                    "--files", str(2 * slots), "--out", d],
                   check=True, timeout=170)
    record["prep_s"] = time.perf_counter() - t0
    with open(os.path.join(d, "manifest.json")) as fh:
        manifest = json.load(fh)
    from prep import digest

    if digest(d) != manifest["digest"]:
        raise RuntimeError("inputs do not match the digest prep.py recorded")
    record["input_digest"] = manifest["digest"]
    record["sizes"] = manifest["sizes"]

    if a.trace:
        from traced import measure_traced

        metrics, passes = measure_traced(a, d, manifest, slots, record)
    else:
        metrics, passes = measure(a, d, manifest, slots, record)
    failed = sum(not p["ok"] for p in passes)
    out = {"correct": failed == 0, "attempted": len(passes), "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    record["result"] = out
    record["host"]["cpu_steal_pct"] = round(steal_pct(ticks), 2)
    name = f"record-{a.workload}-{a.seed}-{a.trace}.json"
    with open(os.path.join(WORK, name), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps(record))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
