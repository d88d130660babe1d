"""Vector layer surface: geometry scalar functions, feature ops,
VectorTranslate, loose field casts (reference godal.go:2575-3702).

A Layer is a DataFrame with a WKB `geometry` column; Feature CRUD maps
to DataFrame append/filter (MERGE/DELETE on an ACID table in
production). Geometry scalar functions are Arrow-batched UDFs over the
pure-numpy kernel in functions/geom.py — one parse per row, vectorized
predicates where the batch shares geometries.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from godal_spark.functions import crs as CRS, geom as G


# ---------------------------------------------------------------------------
# geometry scalar functions (ST_* style)
# ---------------------------------------------------------------------------

@F.pandas_udf(T.DoubleType())
def st_area(wkb: pd.Series) -> pd.Series:
    return pd.Series([G.from_wkb(bytes(b)).area() for b in wkb])


@F.pandas_udf(T.StringType())
def st_astext(wkb: pd.Series) -> pd.Series:
    return pd.Series([G.to_wkt(G.from_wkb(bytes(b))) for b in wkb])


@F.pandas_udf(T.StringType())
def st_asgeojson(wkb: pd.Series) -> pd.Series:
    return pd.Series([G.to_geojson(G.from_wkb(bytes(b))) for b in wkb])


@F.pandas_udf(T.BinaryType())
def st_geomfromtext(wkt: pd.Series) -> pd.Series:
    return pd.Series([G.to_wkb(G.from_wkt(s)) for s in wkt])


@F.pandas_udf(T.BooleanType())
def st_isvalid(wkb: pd.Series) -> pd.Series:
    return pd.Series([G.from_wkb(bytes(b)).is_valid for b in wkb])


@F.pandas_udf(T.BooleanType())
def st_isempty(wkb: pd.Series) -> pd.Series:
    return pd.Series([G.from_wkb(bytes(b)).is_empty for b in wkb])


@F.pandas_udf(T.BooleanType())
def st_intersects(wkb_a: pd.Series, wkb_b: pd.Series) -> pd.Series:
    return pd.Series([G.intersects(G.from_wkb(bytes(a)), G.from_wkb(bytes(b)))
                      for a, b in zip(wkb_a, wkb_b)])


def register_st_functions(spark) -> None:
    """Make the ST_* library available to spark.sql (the SQLite-dialect
    spatial functions analogue, godal.go:3446-3456)."""
    spark.udf.register("st_area", st_area)
    spark.udf.register("st_astext", st_astext)
    spark.udf.register("st_asgeojson", st_asgeojson)
    spark.udf.register("st_geomfromtext", st_geomfromtext)
    spark.udf.register("st_intersects", st_intersects)
    spark.udf.register("st_isvalid", st_isvalid)
    spark.udf.register("st_isempty", st_isempty)


# ---------------------------------------------------------------------------
# layer ops
# ---------------------------------------------------------------------------

def layer_bounds(layer: DataFrame, geometry: str = "geometry"):
    """(minx, miny, maxx, maxy) of the layer (godal.go:2596-2623)."""
    from godal_spark.operators.pip import with_bbox

    df = layer
    if not {"minx", "miny", "maxx", "maxy"} <= set(df.columns):
        df = with_bbox(df, geometry)
    r = df.agg(F.min("minx"), F.min("miny"), F.max("maxx"), F.max("maxy")).first()
    return tuple(float(v) for v in r)


def copy_layer(layer: DataFrame) -> DataFrame:
    """CopyLayer = CTAS (godal.go:3397-3410)."""
    return layer.select("*")


def reproject_layer(layer: DataFrame, src: str, dst: str,
                    geometry: str = "geometry") -> DataFrame:
    """Geometry.Reproject over a whole layer (godal.go:3637-3657)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            new = []
            for b in pdf[geometry]:
                g = G.from_wkb(bytes(b))
                def tx(rings):
                    res = []
                    for r in rings:
                        x, y, ok = CRS.transform_points(r[:, 0], r[:, 1], src, dst)
                        if not ok.all():
                            raise ValueError("reproject: point out of CRS domain")
                        res.append(np.stack([x, y], axis=1))
                    return res
                if g.type == "Polygon":
                    g2 = G.Geom("Polygon", tx(g.coords))
                elif g.type == "MultiPolygon":
                    g2 = G.Geom("MultiPolygon", [tx(p) for p in g.coords])
                elif g.type == "Point":
                    x, y, ok = CRS.transform_points([g.coords[0]], [g.coords[1]], src, dst)
                    g2 = G.point(x[0], y[0])
                elif g.type == "LineString":
                    g2 = G.Geom("LineString", tx([np.asarray(g.coords)])[0])
                else:
                    raise NotImplementedError(g.type)
                new.append(G.to_wkb(g2))
            out[geometry] = new
            if "srs" in out.columns:
                out["srs"] = dst
            yield out

    return layer.mapInPandas(gen, schema=layer.schema)


# ---------------------------------------------------------------------------
# VectorTranslate (ogr2ogr work-alike, godal.go:2544-2573)
# ---------------------------------------------------------------------------

def vector_translate(layer: DataFrame, out_path: str, fmt: str = "parquet", *,
                     t_srs: str | None = None, src_srs: str | None = None,
                     geometry: str = "geometry") -> None:
    """read → optional reprojection → write in the requested format.

    Formats: parquet (native), csv (WKT-encoded geometry), geojson
    (RFC7946-style FeatureCollection written as one JSON file per
    partition — line-delimited features for scale).
    """
    df = layer
    if t_srs:
        df = reproject_layer(df, src_srs or "EPSG:4326", t_srs, geometry)
    f = fmt.lower()
    if f == "parquet":
        df.write.mode("overwrite").parquet(out_path)
    elif f == "csv":
        df = df.withColumn(geometry, st_astext(F.col(geometry)))
        df.write.mode("overwrite").option("header", True).csv(out_path)
    elif f == "geojson":
        props = [c for c in df.columns if c != geometry]
        def to_feature(batches):
            for pdf in batches:
                rows = []
                for r in pdf.itertuples(index=False):
                    d = r._asdict()
                    geom = json.loads(G.to_geojson(G.from_wkb(bytes(d.pop(geometry)))))
                    rows.append(json.dumps({"type": "Feature", "geometry": geom,
                                            "properties": {k: d[k] for k in props}}))
                yield pd.DataFrame({"feature": rows})
        df.mapInPandas(to_feature, schema="feature string") \
            .write.mode("overwrite").text(out_path)
    else:
        raise ValueError(f"vector_translate: unknown format {fmt!r}")


def read_geojson(spark, path: str) -> DataFrame:
    """GeoJSON FeatureCollection / line-delimited features → layer DF."""
    raw = spark.read.text(path)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"geometry": [], "properties": []}
            for line in pdf["value"]:
                line = line.strip().rstrip(",")
                if not line:
                    continue
                try:
                    d = json.loads(line)
                except json.JSONDecodeError:
                    continue
                feats = d["features"] if d.get("type") == "FeatureCollection" else \
                    [d] if d.get("type") == "Feature" else []
                for ft in feats:
                    g = G.from_geojson(json.dumps(ft["geometry"]))
                    rows["geometry"].append(G.to_wkb(g))
                    rows["properties"].append(json.dumps(ft.get("properties", {})))
            yield pd.DataFrame(rows)

    return raw.mapInPandas(parse, schema="geometry binary, properties string")


# ---------------------------------------------------------------------------
# loose field casts (godal.go:3074-3166: Int() parses strings and returns
# 0 on unparsable — Spark cast returns null; wrap to match)
# ---------------------------------------------------------------------------

def loose_int(col) -> F.Column:
    c = col if not isinstance(col, str) else F.col(col)
    return F.coalesce(c.try_cast("bigint"),
                      c.try_cast("double").try_cast("bigint"),
                      F.lit(0)).cast("bigint")


def loose_float(col) -> F.Column:
    c = col if not isinstance(col, str) else F.col(col)
    return F.coalesce(c.try_cast("double"), F.lit(0.0))
