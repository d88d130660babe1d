"""The traced run (``--trace 1``): per-layer metrics of one workload.

The untraced run's shape with the Spark event log on and every pass
traced (spans.py). Per-layer numbers are medians over the timed passes;
``<workload>.trace.items_per_s`` against the untraced run's
``items_per_s`` is the tracing overhead.

Every run prints every per-layer metric of BENCHMARK.json; those of the
other workload's layers read 0, since this workload does not call them.

    python3 perfbench/traced.py    # prints the per-layer metric list
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys

from run import ITEMS, WORK, Session, median_wall, set_up
from spans import EventLog, jvm_times

# (counter, unit, better) measured on every operator span
SPAN_COUNTERS = (("wall_s", "s", "lower"), ("jobs", "count", "lower"),
                 ("task_cpu_s", "s", "lower"), ("py_s", "s", "lower"),
                 ("shuffle_mb", "MB", "lower"), ("spill_mb", "MB", "lower"),
                 ("skew", "ratio", "lower"), ("jit_s", "s", "lower"))


def exact_counts(workload: str, st: dict, out: dict) -> dict:
    """Counts that must repeat exactly from pass to pass: rows out of a
    plan node (event-log SQL metrics), bytes from task metrics, and where
    no single node carries the count, the pass's own checked output."""
    def rows(span, node, part="rows"):
        return sum(v for k, v in st[span][part].items() if k.startswith(node))

    if workload == "tile_join":
        # the cell join, with the bbox test Catalyst folds into it
        return {"pip.join.candidates": rows("pip.join", "BroadcastHashJoin"),
                "pip.join.hits": out["pairs"],
                # the count of the checkpointed candidate pairs that ends
                # minhash_lsh_dedup's eager jobs
                "dedup.build.candidates": rows("dedup.build", "Scan ExistingRDD",
                                               "rows_last"),
                "dedup.verify.pairs": len(out["dedup_pairs"])}
    return {"tiling.explode.tiles": rows("tiling.explode", "MapInPandas"),
            "tiling.explode.py_mb_in": st["tiling.explode"]["py_mb_in"],
            "lineage.write.mb": st["lineage.write"]["out_mb"],
            "catalog.read.rows": rows("catalog.read", "Scan parquet"),
            "rasterize.tiles.tiles": rows("rasterize.tiles", "InMemoryTableScan"),
            "polygonize.tiles.features": out["features"]}


COUNT_UNITS = {"tiling.explode.py_mb_in": ("MB", "lower"),
               "lineage.write.mb": ("MB", "lower")}


def per_layer_spec() -> list[tuple[str, str, str]]:
    """Every per-layer metric: (name, unit, better)."""
    from prep import WORKLOADS
    from workloads import spans_of

    out = []
    for wl in WORKLOADS:
        for span in spans_of(wl):
            out += [(f"{span}.{c}", u, b) for c, u, b in SPAN_COUNTERS]
    for wl in WORKLOADS:
        out += [(f"{wl}.session.start.wall_s", "s", "lower"),
                (f"{wl}.session.start.jit_s", "s", "lower"),
                (f"{wl}.jvm.gc_s", "s", "lower"),
                (f"{wl}.trace.items_per_s", ITEMS, "higher")]
    for name in ("pip.join.candidates", "pip.join.hits", "tiling.explode.tiles",
                 "tiling.explode.py_mb_in", "lineage.write.mb", "catalog.read.rows",
                 "rasterize.tiles.tiles", "polygonize.tiles.features",
                 "dedup.build.candidates", "dedup.verify.pairs"):
        out.append((name, *COUNT_UNITS.get(name, ("count", "higher"))))
    return out


def measure_traced(a, d: str, manifest: dict, slots: int, record: dict):
    events = os.path.join(WORK, "events")
    shutil.rmtree(events, ignore_errors=True)
    session = Session(slots, events)
    passes = []
    try:
        loop, setup = set_up(session, a.workload, d, manifest, passes, traced=True)
        traced = loop.window(a.seconds, manifest["sizes"]["timed"])
        _, gc_s = jvm_times(session.spark)
    finally:
        session.shutdown()
    log = EventLog(events)

    spans = loop.wl.spans
    per_pass, counts = [], []
    for rec in traced:
        pid = rec["pass"]
        st = {s: log.span_stats((pid, s)) for s in spans}
        for s in spans:
            st[s].update(loop.spans[pid][s])
        per_pass.append(st)
        counts.append(exact_counts(a.workload, st, loop.outputs[pid]))
    values = {name: 0.0 for name, _, _ in per_layer_spec()}
    for s in spans:
        for c, _, _ in SPAN_COUNTERS:
            values[f"{s}.{c}"] = statistics.median(st[s][c] for st in per_pass)
    wl = a.workload
    values[f"{wl}.session.start.wall_s"] = setup["session_s"]
    values[f"{wl}.session.start.jit_s"] = setup["session_jit_s"]
    values[f"{wl}.jvm.gc_s"] = gc_s
    # against the untraced run's items_per_s this gives the tracing overhead
    values[f"{wl}.trace.items_per_s"] = manifest["expected"]["items"] / median_wall(traced)
    values.update(counts[0])
    record.update({
        "setup": setup, "passes": passes, "spans": per_pass,
        "exact_counts_repeat": all(c == counts[0] for c in counts),
        "app_task_s": log.app_task_ms / 1e3,
        "events": {"jobs": len(log.jobs), "keys": sorted(map(list, log.keys()))},
    })
    units = {n: u for n, u, _ in per_layer_spec()}
    return {k: (v, units[k]) for k, v in values.items()}, passes


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(json.dumps([{"name": n, "unit": u, "better": b}
                      for n, u, b in per_layer_spec()], indent=1))
