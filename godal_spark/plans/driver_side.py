"""Driver-side decisions over small checkpointed metadata.

knn, polygonize, sieve and minhash dedup share one shape: an eager
`localCheckpoint` materializes a small table, the driver pulls it in one
bounded Arrow step when it fits, decides there in numpy, and the
checkpoint's blocks are dropped before the operator returns. Past the
bound each operator keeps its distributed plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Metadata rows an operator may collect to decide on the driver
# (polygonize and sieve metadata, component edges); past it the
# distributed plan runs. Tests set it to 0 to force that plan.
MAX_ROWS = 500_000


def collect_bounded(df: DataFrame, max_rows: int):
    """df as one Arrow table when it has at most max_rows rows, else
    None. One bounded step, `limit(max_rows + 1).toArrow()`: a single
    evaluation of the plan, never collect()'s incremental
    partition-by-partition take (one job per probe round)."""
    tbl = df.limit(max_rows + 1).toArrow()
    return None if tbl.num_rows > max_rows else tbl


def ordered_like_spark(dt) -> bool:
    """Whether ids of Spark type `dt` order on the driver as Spark's `<`
    orders them, both Arrow's sort and Python's `<` over the collected
    values: integers, and strings under the default binary collation."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return True
    return type(dt) is T.StringType and \
        getattr(dt, "collation", "UTF8_BINARY") == "UTF8_BINARY"


def byte_ceiling(max_heap: int) -> int:
    """Bytes a driver-held table may take: min(1 GB, max_heap / 8).
    max_heap is the driver JVM's Runtime.maxMemory(); the driver holds
    the whole table (a collect, or a broadcast's build side) at once."""
    return min(1 << 30, max_heap // 8)


def driver_heap(df: DataFrame) -> int:
    """The driver JVM's maximum heap in bytes."""
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.java.lang.Runtime.getRuntime().maxMemory()


def release(ckpt: DataFrame) -> None:
    """Drop the blocks of an eager localCheckpoint now, not when the JVM
    ContextCleaner next collects its RDD, so no checkpoint outlives the
    operator call. Any later read of `ckpt` fails."""
    ckpt._jdf.queryExecution().logical().rdd().unpersist(False)
