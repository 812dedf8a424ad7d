"""Mimic the driver's correctness gate: run each __spark_entry__ query on
Spark and its oracle SQL on DuckDB over the same parquet, compare row count,
schema-ish, and order-insensitive values (exact after column-name sort)."""

from __future__ import annotations

import math

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

# default sf0.001 keeps the suite fast; the driver gates at sf0.01 —
# override with ORACLE_SF_DIR to validate at that scale
SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
# data-dependent oracles (trained IVF centroids, PNG expected rows) derive
# their literals from the parquet at this path — pin them to the same scale
# the Spark side queries
os.environ["ORACLE_SF_DIR"] = SF_DIR
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


ORACLED = sorted(entry_mod.oracle_sql().keys())


def test_every_query_has_an_oracle():
    assert set(entry_mod.queries()) == set(ORACLED)


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    spark_df = q(spark, SF_DIR).toPandas()
    duck_df = duck.execute(entry_mod.oracle_sql()[name]).fetchdf()
    assert len(spark_df) == len(duck_df), f"{name}: row count mismatch"
    assert sorted(spark_df.columns) == sorted(duck_df.columns), f"{name}: columns"
    a, b = _norm(spark_df), _norm(duck_df)
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


# ---------------------------------------------------------------- NTZ proof
#
# The driver's correctness session runs with DEFAULT Spark 4 configs, where
# spark.sql.parquet.inferTimestampNTZ.enabled=true reads the pandas-written
# fixture `ts` columns as TIMESTAMP_NTZ. The engine's own sessions pin the
# flag false, which let a driver-only DATATYPE_MISMATCH crash
# (unix_micros over NTZ in debezium_parse, round 3) coexist with a green
# local suite. Every queries() entry must therefore run under the driver's
# config too — this sweep is the conftest-level guard against that drift.


@pytest.fixture(scope="module")
def ntz_session(spark):
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    yield spark
    spark.conf.set(key, prev)


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_runs_under_driver_ntz_config(ntz_session, name):
    q = entry_mod.queries()[name]
    df = q(ntz_session, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
