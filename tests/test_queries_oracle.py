"""Local replay of the driver's correctness gate: run every __spark_entry__
query AND its DuckDB oracle on the same parquet, compare row count, column
names, and order-insensitive values (columns sorted by name — the driver's
documented compare)."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype("string")
    return df.sort_values(list(df.columns), ignore_index=True)


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def test_every_oracle_key_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, sf_dir, oracle):
    got = canon(QUERIES[name](spark, sf_dir).toPandas())
    want = canon(oracle.execute(ORACLES[name]).fetchdf())
    assert list(got.columns) == list(want.columns), (got.columns, want.columns)
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_table_schema_memo_sees_rewrites(spark, tmp_path):
    """A gate table rewritten at the same path with an extra column is
    re-inferred instead of read under the memoized schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)
    path = f"{d}/gate.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert entry_mod._t(spark, d, "gate").columns == ["a"]
    assert entry_mod._t(spark, d, "gate").columns == ["a"]  # memo hit
    pq.write_table(pa.table({"a": [3, 4], "b": ["x", "y"]}), path)
    df = entry_mod._t(spark, d, "gate")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(3, "x"), (4, "y")]
