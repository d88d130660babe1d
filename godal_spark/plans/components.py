"""Connected components over an edge list: which components exist, and
which id is each one's root (its minimum id).

polygonize_tiles and sieve_tiles join tile-local components across tile
borders with it, and dedup.duplicate_clusters closes verified duplicate
pairs into clusters. One routine, two ways to run:

  * driver: while the edges number at most driver_side.MAX_ROWS and the
    ids order on the driver as in Spark, one bounded Arrow collect and
    a union-find (_driver_roots; sieve's driver solve calls it too);
  * distributed: min-label propagation with pointer doubling, O(log
    diameter) rounds, no driver collect at any scale.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from godal_spark.plans import driver_side
from godal_spark.plans.driver_side import (collect_bounded, ordered_like_spark,
                                           release)

# Pointer-doubling rounds before ComponentsDidNotConverge: labels settle
# in O(log diameter) rounds, so a 1000-tile river chain takes ~10.
MAX_ROUNDS = 25


class ComponentsDidNotConverge(RuntimeError):
    """The distributed labels still changed after MAX_ROUNDS rounds."""


def _driver_roots(edges) -> dict:
    """Union-find over (*keys, a, b) edge tuples on the driver:
    {(*keys, id): root} for every id on an edge, the root being the
    component's minimum id (the fixed point of pointer doubling too)."""
    parent: dict = {}

    def find(k):
        while parent[k] != k:
            parent[k] = parent[parent[k]]
            k = parent[k]
        return k

    for *keys, a, b in edges:
        ka, kb = (*keys, a), (*keys, b)
        parent.setdefault(ka, ka)
        parent.setdefault(kb, kb)
        ra, rb = find(ka), find(kb)
        if ra != rb:
            lo, hi = (ra, rb) if ra[-1] < rb[-1] else (rb, ra)
            parent[hi] = lo
    return {k: find(k)[-1] for k in parent}


def _distributed_roots(edges: DataFrame, keys: list[str],
                       held: list[DataFrame]) -> DataFrame:
    """(*keys, id, root) by min-label propagation with pointer doubling
    over the (*keys, id, nb) edges: each round takes every id's minimum
    neighbor root, then hops each root to its own root. Each round is a
    checkpoint, released once the next supersedes it; the symmetric
    edges' checkpoint is released when the loop ends and the result's
    goes on `held`."""
    sym = edges.unionByName(edges.select(
        *keys, F.col("nb").alias("id"), F.col("id").alias("nb")))
    sym = sym.localCheckpoint(eager=True)
    lab = seed = sym.select(*keys, "id").distinct() \
        .withColumn("root", F.col("id"))
    for _ in range(MAX_ROUNDS):
        nmin = (sym.join(lab.select(*keys, F.col("id").alias("nb"),
                                    F.col("root").alias("nroot")),
                         [*keys, "nb"])
                .groupBy(*keys, "id").agg(F.min("nroot").alias("mroot")))
        new = (lab.join(nmin, [*keys, "id"], "left")
               .select(*keys, "id",
                       F.least("root", F.coalesce("mroot", "root"))
                       .alias("root")))
        hop = new.select(*keys, F.col("id").alias("root"),
                         F.col("root").alias("rr"))
        new = (new.join(hop, [*keys, "root"], "left")
               .select(*keys, "id", F.coalesce("rr", "root").alias("root")))
        new = new.localCheckpoint(eager=True)  # truncate iterative lineage
        changed = (new.join(lab.withColumnRenamed("root", "old"),
                            [*keys, "id"])
                   .filter(F.col("root") != F.col("old")).limit(1).count())
        if lab is not seed:
            release(lab)
        lab = new
        if not changed:
            release(sym)
            held.append(lab)
            return lab
    release(lab)
    release(sym)
    # a silent return would hand back wrong roots, not approximate ones
    raise ComponentsDidNotConverge(
        f"connected components: labels still changing after {MAX_ROUNDS} "
        "pointer-doubling rounds")


def component_roots(edges: DataFrame, a: str, b: str, keys=(), *,
                    held: list[DataFrame]) -> DataFrame:
    """(*keys, id, root) for every id on an edge of `edges`, where the
    edges are columns a and b within a group named by `keys`, and root is
    the minimum id of the id's connected component. An edge with a null
    (or NaN) key or id joins nothing.

    Driver path: while the edges number at most driver_side.MAX_ROWS
    and ids order on the driver as Spark orders them, one bounded Arrow
    collect and a union-find; the result is a broadcast-hinted local
    relation with the edges' own column types. Otherwise the
    distributed loop (_distributed_roots); its result's checkpoint goes
    on `held` for the caller to release after its last read, and it
    raises ComponentsDidNotConverge after MAX_ROUNDS rounds."""
    keys = list(keys)
    e = edges.select(*keys, F.col(a).alias("id"), F.col(b).alias("nb")) \
        .dropna(subset=[*keys, "id", "nb"])
    tbl = None
    if ordered_like_spark(edges.schema[a].dataType):
        tbl = collect_bounded(e, driver_side.MAX_ROWS)
    if tbl is None:
        return _distributed_roots(e, keys, held)
    roots = _driver_roots(zip(*(tbl.column(c).to_pylist()
                                for c in tbl.column_names)))
    # (*keys, id) from the map's keys, root from its values; Arrow types
    # as collected, Spark types as in `edges`
    out = pa.table(
        [pa.array([k[i] for k in roots], tbl.schema.field(i).type)
         for i in range(len(keys) + 1)]
        + [pa.array(list(roots.values()), tbl.schema.field("id").type)],
        names=[*keys, "id", "root"])
    ids = edges.schema[a].dataType
    return F.broadcast(edges.sparkSession.createDataFrame(out, T.StructType(
        [edges.schema[c] for c in keys]
        + [T.StructField("id", ids), T.StructField("root", ids)])))
