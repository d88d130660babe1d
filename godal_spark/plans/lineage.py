"""Checkpoint / resume with per-partition lineage + metrics (north_rule).

The production design is Iceberg: one atomic snapshot commit per
partition, lineage rows in a side table, resume = anti-join completed
partitions. This environment has no Iceberg runtime jars, so the same
contract is implemented over directory-per-partition parquet with an
atomic _SUCCESS-style marker — semantics identical, storage swappable
(the writer/reader pair is isolated here).

Layout:
  <root>/data/part=<key>/*.parquet      completed partition data
  <root>/lineage/part=<key>.json        lineage: rows, bytes, wall_s, ts

A killed run restarts, lists completed keys (one metadata read), and
processes only the remainder — no recompute of finished cells. The
lineage table doubles as the throughput log for BENCH.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F


class CheckpointedWriter:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "lineage"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    def completed(self) -> set[str]:
        d = os.path.join(self.root, "lineage")
        return {f[:-5] for f in os.listdir(d) if f.endswith(".json")}

    def pending(self, keys) -> list[str]:
        done = self.completed()
        return [k for k in keys if str(k) not in done]

    def write_partition(self, key: str, df: DataFrame) -> dict:
        """Materialize one partition; lineage marker written only after
        the data commit (atomic rename by the FS committer), so a crash
        mid-write leaves the key pending — exactly-once per key. The row
        count is observed on the written frame, in the write's own job."""
        key = str(key)
        t0 = time.time()
        path = os.path.join(self.root, "data", f"part={key}")
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")) \
            .write.mode("overwrite").parquet(path)
        rows = obs.get["rows"]
        nbytes = sum(os.path.getsize(os.path.join(path, f))
                     for f in os.listdir(path) if f.endswith(".parquet"))
        meta = {"key": key, "rows": rows, "bytes": nbytes,
                "wall_s": round(time.time() - t0, 3), "ts": time.time()}
        tmp = os.path.join(self.root, "lineage", f".{key}.json.tmp")
        dst = os.path.join(self.root, "lineage", f"{key}.json")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, dst)  # atomic marker
        return meta

    def lineage(self) -> list[dict]:
        d = os.path.join(self.root, "lineage")
        out = []
        for f in sorted(os.listdir(d)):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out.append(json.load(fh))
        return out

    def read_all(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.root, "data"))


def run_partitioned(writer: CheckpointedWriter, keys, df_for_key) -> list[dict]:
    """Resume-aware loop: process only pending keys. df_for_key(key) → DataFrame."""
    metas = []
    for k in writer.pending(keys):
        metas.append(writer.write_partition(k, df_for_key(k)))
    return metas
