"""plans.components.component_roots: the one connected-components
routine behind polygonize_tiles, sieve_tiles and duplicate_clusters."""

import numpy as np
import pytest

from godal_spark import datagen
from godal_spark.plans import components as CC, driver_side

_GRAPHS = {
    "chain": ("id_a long, id_b long",
              [(9, 4), (4, 7), (7, 1), (1, 8), (8, 3), (3, 6)]),
    "star": ("id_a long, id_b long", [(5, n) for n in (1, 9, 3, 12, 7)]),
    "pairs": ("id_a int, id_b int", [(1, 2), (4, 3), (6, 5), (8, 7)]),
    "strings": ("id_a string, id_b string",
                [("pear", "fig"), ("fig", "Kiwi"), ("apple", "é"),
                 ("z", "a")]),
    "keyed": ("image_id string, band int, id_a long, id_b long",
              [("x", 0, 5, 3), ("x", 0, 3, 8), ("x", 1, 5, 8), ("y", 0, 5, 9),
               ("y", 0, 2, 5)]),
}


def _roots(spark, name, max_rows):
    schema, rows = _GRAPHS[name]
    edges = spark.createDataFrame(rows, schema)
    keys = ("image_id", "band") if name == "keyed" else ()
    held = []
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(driver_side, "MAX_ROWS", max_rows)
        out = CC.component_roots(edges, "id_a", "id_b", keys, held=held)
        got = {tuple(r) for r in out.collect()}
    for c in held:
        driver_side.release(c)
    return got, out.schema, len(held)


@pytest.mark.parametrize("name", sorted(_GRAPHS))
def test_component_roots_driver_matches_distributed(spark, name):
    """The driver union-find and forced pointer doubling (MAX_ROWS = 0)
    return the same (*keys, id, root) rows with the edges' column types;
    only the distributed path holds a checkpoint."""
    drv, drv_schema, drv_held = _roots(spark, name, driver_side.MAX_ROWS)
    dist, dist_schema, dist_held = _roots(spark, name, 0)
    assert drv == dist
    assert [f.dataType for f in drv_schema] == \
        [f.dataType for f in dist_schema]
    assert (drv_held, dist_held) == (0, 1)
    want = {
        "chain": {(i, 1) for i in (9, 4, 7, 1, 8, 3, 6)},
        "star": {(i, 1) for i in (5, 1, 9, 3, 12, 7)},
        "pairs": {(1, 1), (2, 1), (3, 3), (4, 3), (5, 5), (6, 5), (7, 7),
                  (8, 7)},
        # Spark's binary string order: "Kiwi" < "fig", "a" < "z", and
        # "apple" < "é" (U+00E9 encodes as 0xC3 0xA9)
        "strings": {("pear", "Kiwi"), ("fig", "Kiwi"), ("Kiwi", "Kiwi"),
                    ("apple", "apple"), ("é", "apple"), ("z", "a"),
                    ("a", "a")},
        "keyed": {("x", 0, 5, 3), ("x", 0, 3, 3), ("x", 0, 8, 3),
                  ("x", 1, 5, 5), ("x", 1, 8, 5), ("y", 0, 5, 2),
                  ("y", 0, 9, 2), ("y", 0, 2, 2)},
    }[name]
    assert drv == want


def test_components_raise_when_rounds_run_out(spark, monkeypatch):
    """With one pointer-doubling round, a chain of diameter > 2 cannot
    settle: polygonize_tiles and duplicate_clusters raise the named
    error instead of returning unsettled roots."""
    from godal_spark.operators import dedup as DD, polygonize as PZ, \
        tiling as TL

    monkeypatch.setattr(driver_side, "MAX_ROWS", 0)
    monkeypatch.setattr(CC, "MAX_ROUNDS", 1)
    pairs = spark.createDataFrame([(2, 5), (5, 7), (7, 3)],
                                  "id_a long, id_b long")
    with pytest.raises(CC.ComponentsDidNotConverge):
        DD.duplicate_clusters(pairs)
    arr = np.zeros((4, 16), dtype=np.uint8)
    arr[1, :] = 7  # one run across four bw=4 tiles
    images = datagen.images_df(spark, [datagen.image_row("c", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=4, bh=4)
    with pytest.raises(CC.ComponentsDidNotConverge):
        PZ.polygonize_tiles(tiles)


def test_duplicate_clusters_job_budget(spark, jobs_of):
    """duplicate_clusters(...).collect() on a 4-edge chain: the bounded
    edge collect and a local result, at most 3 jobs."""
    from godal_spark.operators import dedup as DD

    pairs = spark.createDataFrame([(2, 5), (5, 7), (7, 3), (20, 21)],
                                  "id_a long, id_b long")
    n, rows = jobs_of(lambda: DD.duplicate_clusters(pairs).collect())
    assert {(r.id, r.cluster) for r in rows} == \
        {(2, 2), (5, 2), (7, 2), (3, 2), (20, 20), (21, 20)}
    assert n <= 3, f"duplicate_clusters(...).collect() ran {n} jobs"
