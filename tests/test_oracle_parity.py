"""Local replica of the driver's correctness gate: every queries() entry
vs its oracle_sql() through DuckDB — row count, column names, and
order-insensitive value equality."""

import os
import re

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        # unify integer backends (int32/int64/uint) for comparison
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    got_raw = QUERIES[name](spark, SF_DIR).toPandas()
    con = _duck()
    exp_raw = con.execute(ORACLES[name]).fetchdf()
    assert sorted(got_raw.columns) == sorted(exp_raw.columns), \
        f"{name}: columns {sorted(got_raw.columns)} != {sorted(exp_raw.columns)}"
    # The driver hashes raw values — an int64 engine column vs a float64
    # oracle column (e.g. DuckDB sum(BIGINT)→HUGEINT→float64) hash-differs
    # even when values are equal. Replicate that sensitivity: dtype KINDS
    # must match before any normalization (round-1 lesson).
    for c in got_raw.columns:
        gk = "f" if pd.api.types.is_float_dtype(got_raw[c]) else \
             "i" if pd.api.types.is_integer_dtype(got_raw[c]) else "o"
        ek = "f" if pd.api.types.is_float_dtype(exp_raw[c]) else \
             "i" if pd.api.types.is_integer_dtype(exp_raw[c]) else "o"
        assert gk == ek, (f"{name}.{c}: dtype kind {got_raw[c].dtype} vs "
                          f"{exp_raw[c].dtype} — driver value-hash would differ")
    got, exp = _norm(got_raw), _norm(exp_raw)
    assert len(got) == len(exp), f"{name}: rows {len(got)} != {len(exp)}"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False, atol=1e-9)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"n_name", "foo", "n_tiles", "n_images"}


def test_scratch_queries_leave_no_temp_dir(spark):
    """Queries that write a scratch table and read it back remove it: a
    call and a read of its result leave no new dir in the temp dir."""
    import tempfile

    def scratch_dirs():
        return {d for d in os.listdir(tempfile.gettempdir())
                if d.startswith(("godal_vt_", "godal_lineage_", "godal_cat_"))}

    for name in ("vector_translate", "lineage_resume", "catalog_lod",
                 "vector_roundtrip"):
        before = scratch_dirs()
        assert QUERIES[name](spark, SF_DIR).count() > 0
        assert scratch_dirs() <= before, name


def test_registry_names_unique_and_gate_window_documented():
    """The registry names each query once, and docs/COVERAGE.md's
    registry-order section lists its first 50 entries (the driver
    gate's window) in order, then every later entry as outside it."""
    from godal_spark.entry_queries import REGISTRY

    names = [name for name, _, _ in REGISTRY]
    assert len(names) == len(set(names))
    assert set(QUERIES) == set(ORACLES) == set(names)
    doc = open(os.path.join(os.path.dirname(__file__), os.pardir, "docs",
                            "COVERAGE.md"), encoding="utf-8").read()
    section = doc.split("## Driver correctness-gate registry order")[1]
    section = section.split("\n## ")[0]
    inside, outside = section.split("### Outside the window")
    inside = inside.split("### Inside the window")[1]
    assert re.findall(r"`(\w+)`", inside) == names[:50]
    assert re.findall(r"`(\w+)`", outside) == names[50:]
