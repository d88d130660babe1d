"""Self-check of the trace parser on tiny inputs.

    python3 perfbench/selfcheck.py

For every workload, on inputs a few hundred times smaller than the
benchmark's, it makes two traced runs (each its own process and JVM: a
cold pass and two traced passes with the event log on), then checks that

* every named span of the workload got at least one job in each pass;
* every job carried a job group, and the task time of the spans, of each
  pass's jobs outside them and of opening the inputs sums to the
  application's total task time, with no task of a stage no job started;
* every stage that ran tasks was submitted under the job group of the
  job that first declared it, the one its tasks are counted under;
* all four traced passes give identical exact counts, and per-span job
  and stage counts that differ by at most one (see ``same_shape``).

Prints one line per workload and exits 1 if any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import prep  # noqa: E402
from run import WORK, Session, nproc, set_up  # noqa: E402

TINY = {"tile_join": {"images": 400, "footprints": 60},
        "raster_ingest": {"images": 20, "footprints": 40, "width": 256,
                          "height": 128}}


def traced_run(name: str, d: str, run: int) -> dict:
    """One session, a cold and two traced passes: errors and pass shapes."""
    from spans import OPEN, OTHER, EventLog
    from traced import exact_counts

    with open(os.path.join(d, "manifest.json")) as fh:
        manifest = json.load(fh)
    events = os.path.join(d, f"events{run}")
    session = Session(min(nproc(), 4), events)
    passes = []
    try:
        loop, _ = set_up(session, name, d, manifest, passes, traced=True)
        for _ in range(2):
            loop.one("timed")
    finally:
        session.shutdown()
    log = EventLog(events)
    spans = loop.wl.spans

    err = [f"pass {p['pass']} failed: {p['errors'][0]}" for p in passes if not p["ok"]]
    shapes = []
    for pid in (1, 2):
        st = {s: log.span_stats((pid, s)) for s in spans}
        err += [f"pass {pid}: span {s} has no job" for s in spans if st[s]["jobs"] < 1]
        shape = {s: [st[s]["jobs"], st[s]["stages"]] for s in spans}
        if loop.outputs[pid] is not None:
            shape["exact"] = exact_counts(name, st, loop.outputs[pid])
        shapes.append(shape)
    # a job that lost the job group (a thread that did not inherit it)
    ungrouped = sum(1 for k in log.jobs.values() if k == (-1, OTHER))
    if ungrouped:
        err.append(f"{ungrouped} jobs ran without a job group")
    # every task belongs to opening the inputs, or to a span or the rest of
    # a pass; nothing else may hold task time
    keys = {(-1, OPEN)} | {(p["pass"], s) for p in passes for s in (*spans, OTHER)}
    attributed = sum(log.span_stats(k)["task_s"] for k in keys)
    if abs(attributed - log.app_task_ms / 1e3) > 1e-6 or log.orphan_tasks:
        err.append(f"task time of spans, passes and opening {attributed} != app total "
                   f"{log.app_task_ms / 1e3} ({log.orphan_tasks} tasks of no job; "
                   f"other keys {sorted(log.keys() - keys)})")
    # a stage runs in the group of the job that first declared it
    moved = [sid for sid in {t["stage"] for ts in log.tasks.values() for t in ts}
             if log.stage_owner.get(sid) != log.stage_group.get(sid)]
    if moved:
        err.append(f"stages submitted under another group than their first job's: {moved}")
    return {"errors": err, "shapes": shapes}


def same_shape(a: dict, b: dict) -> bool:
    """Exact counts equal; per-span job and stage counts within one:
    adaptive query execution now and then runs one job (and its stage)
    fewer, as seen in polygonize.sieve (27 instead of 28)."""
    return a.get("exact") == b.get("exact") and all(
        abs(x - y) <= 1 for s in a if s != "exact" for x, y in zip(a[s], b[s]))


def check_workload(name: str) -> list[str]:
    d = os.path.join(WORK, "selfcheck", name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    cfg = {**prep.SIZES[name], **TINY[name]}
    slots = min(nproc(), 4)
    expected = prep.PREP[name](prep._rng(0, name), cfg, 2 * slots, d)
    with open(os.path.join(d, "manifest.json"), "w") as fh:
        json.dump({"sizes": cfg, "expected": expected}, fh)
    err, shapes = [], []
    for run in (1, 2):
        # a process per run: a JVM is launched once per Python process
        p = subprocess.run([sys.executable, __file__, name, str(run)],
                           capture_output=True, text=True, timeout=600)
        if p.returncode != 0:
            return [f"run {run} exited {p.returncode}: {p.stderr[-800:]}"]
        res = json.loads(p.stdout.splitlines()[-1])
        err += res["errors"]
        shapes += res["shapes"]
    if not all(same_shape(s, shapes[0]) for s in shapes):
        err.append(f"traced passes differ: {shapes}")
    return err


def main() -> int:
    if len(sys.argv) == 3:
        print(json.dumps(traced_run(sys.argv[1],
                                    os.path.join(WORK, "selfcheck", sys.argv[1]),
                                    int(sys.argv[2]))))
        return 0
    failed = False
    for name in prep.WORKLOADS:
        err = check_workload(name)
        failed |= bool(err)
        print(f"{name}: {'ok' if not err else 'FAIL'}")
        for e in err:
            print("  " + e)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
