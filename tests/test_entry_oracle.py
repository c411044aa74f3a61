"""Mirror of the driver's correctness gate: run each ``queries()`` entry on
Spark and its ``oracle_sql()`` twin on DuckDB at sf0.001, compare row count +
order-insensitive values. Catches engine-semantics drift before the driver
does (at sf0.01)."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con.execute(sql).fetchdf()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


ORACLED = sorted(E.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_duckdb_oracle(spark, name):
    q = E.queries()[name]
    spark_df = q(spark, SF_DIR).toPandas()
    duck_df = _duck(E.oracle_sql()[name])
    a, b = _normalize(spark_df), _normalize(duck_df)
    assert list(a.columns) == list(b.columns), (list(a.columns), list(b.columns))
    assert len(a) == len(b), f"row count {len(a)} vs {len(b)}"
    pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=0, rtol=0)


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) == 200
    assert {"url", "profile", "status", "name", "price"} <= set(df.columns)


def test_every_query_has_an_oracle_twin():
    """A registered query without a DuckDB twin would be missing from the
    driver's correctness gate; fail here first."""
    assert set(E.queries()) == set(E.oracle_sql())
