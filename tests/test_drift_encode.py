"""Schema-drift-aware encode: files whose columns drifted (added /
missing / reordered) must still encode into one blocks table under a
union manifest and decode back with nulls where a file lacked the
column — d6tstack's align-and-stack ingest semantics at the codec layer
(reference: combine_csv.py sniff_columns/combine alignment)."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from d6tstack_spark.operators.drift import (
    encode_parquet_files_drift,
    parquet_drift_report,
    sniff_parquet_schemas,
)
from d6tstack_spark.operators.encode import decode_table


@pytest.fixture(scope="module")
def drifted(tmp_path_factory):
    d = tmp_path_factory.mktemp("drift")
    f1 = str(d / "a.parquet")
    f2 = str(d / "b.parquet")
    f3 = str(d / "c.parquet")
    pq.write_table(
        pa.table({
            "k": pa.array([0, 1, 2], pa.int64()),
            "x": pa.array(["a", "b", "c"]),
        }),
        f1,
    )
    # x gone, y appears
    pq.write_table(
        pa.table({
            "k": pa.array([3, 4], pa.int64()),
            "y": pa.array([1.5, 2.5], pa.float64()),
        }),
        f2,
    )
    # same columns as f1 but reordered
    pq.write_table(
        pa.table({
            "x": pa.array(["d", "e"]),
            "k": pa.array([5, 6], pa.int64()),
        }),
        f3,
    )
    return f1, f2, f3


def test_sniff_spark_side_matches_driver(spark, drifted, monkeypatch):
    """Above the driver-loop threshold the footer sniff runs as a Spark
    job over a ``spark.range`` source (no Python-RDD source, no
    exchange) and returns what the driver loop returns."""
    import d6tstack_spark.operators.drift as drift

    paths = list(drifted)
    want = sniff_parquet_schemas(spark, paths)
    plans = []

    def spy(*a, **kw):
        df = drift_map_slices(*a, **kw)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return df

    drift_map_slices = drift.map_slices
    monkeypatch.setattr(drift, "map_slices", spy)
    monkeypatch.setattr(drift, "_SNIFF_DRIVER_MAX_FILES", 0)
    assert sniff_parquet_schemas(spark, paths) == want
    (plan,) = plans
    assert "Range (" in plan and "ExistingRDD" not in plan, plan
    assert "Exchange" not in plan, plan


def test_sniff_and_report(spark, drifted):
    f1, f2, f3 = drifted
    schemas = sniff_parquet_schemas(spark, [f1, f2])
    assert schemas[f1] == (("k", "int64"), ("x", "string"))
    rep = parquet_drift_report(spark, [f1, f2, f3])
    assert not rep["uniform"]
    assert set(rep["union"]) == {"k", "x", "y"}
    assert rep["common"] == ["k"]
    assert not rep["conflicts"]
    assert rep["per_file"][f1]["missing"] == ["y"]
    assert rep["per_file"][f2]["missing"] == ["x"]
    # uniform when every file carries the same mapping (order may differ
    # per file — the report is name-keyed, but exact tuple equality is
    # what routes to the scan-fused path, so reordered files count as
    # drifted for routing)
    assert parquet_drift_report(spark, [f1, f1])["uniform"]


def test_uniform_routes_scan_fused(spark, drifted):
    f1, _, _ = drifted
    blocks, man = encode_parquet_files_drift(
        spark, [f1, f1], order_cols=("k",)
    )
    dec = decode_table(blocks, man)
    assert dec.count() == 6
    assert sorted(dec.columns) == ["k", "x"]


def test_drift_unifies_and_roundtrips(spark, drifted):
    f1, f2, f3 = drifted
    blocks, man = encode_parquet_files_drift(
        spark, [f1, f2, f3], order_cols=("k",)
    )
    assert set(man) == {"k", "x", "y"}
    got = (
        decode_table(blocks, man)
        .orderBy("k")
        .toPandas()
    )
    want = (
        spark.read.option("mergeSchema", "true")
        .parquet(f1, f2, f3)
        .orderBy("k")
        .toPandas()[got.columns.tolist()]
    )
    pd.testing.assert_frame_equal(
        want.reset_index(drop=True), got.reset_index(drop=True)
    )
    # nulls landed exactly where files lacked the column
    assert got[(got.k >= 3) & (got.k < 5)].x.isna().all()
    assert got[got.k < 3].y.isna().all()


def test_on_drift_error_raises_with_report(spark, drifted):
    f1, f2, _ = drifted
    with pytest.raises(ValueError, match="drift across files"):
        encode_parquet_files_drift(
            spark, [f1, f2], order_cols=("k",), on_drift="error"
        )
    with pytest.raises(ValueError, match="on_drift"):
        encode_parquet_files_drift(
            spark, [f1, f2], order_cols=("k",), on_drift="nope"
        )
    # a typo'd mode is rejected even when today's inputs are uniform —
    # it must not lie dormant until the first drifted file arrives
    with pytest.raises(ValueError, match="on_drift"):
        encode_parquet_files_drift(
            spark, [f1, f1], order_cols=("k",), on_drift="eror"
        )


def test_type_conflict_always_raises(spark, tmp_path, drifted):
    f1, _, _ = drifted
    bad = str(tmp_path / "bad.parquet")
    pq.write_table(
        pa.table({
            "k": pa.array([9], pa.int64()),
            "x": pa.array([3.3], pa.float64()),  # x was string in f1
        }),
        bad,
    )
    with pytest.raises(ValueError, match="type conflicts"):
        encode_parquet_files_drift(spark, [f1, bad], order_cols=("k",))


def test_drifted_nulls_compress_and_decode_bit_identical(spark, tmp_path):
    """A column absent from most files = long null runs; they must cost
    ~nothing in the blocks table and decode to real nulls."""
    import numpy as np

    paths = []
    for i in range(4):
        p = str(tmp_path / f"p{i}.parquet")
        cols = {
            "k": pa.array(np.arange(i * 1000, (i + 1) * 1000, dtype=np.int64)),
            "v": pa.array(np.full(1000, float(i))),
        }
        if i == 3:  # the new column appears only in the last file
            cols["late"] = pa.array([f"s{j}" for j in range(1000)])
        pq.write_table(pa.table(cols), p)
        paths.append(p)
    blocks, man = encode_parquet_files_drift(spark, paths, order_cols=("k",))
    dec = decode_table(blocks, man)
    assert dec.filter(F.col("late").isNull()).count() == 3000
    assert dec.filter(F.col("late").isNotNull()).count() == 1000
    late_bytes = (
        blocks.filter(F.col("column") == "late")
        .agg(F.sum("enc_bytes"))
        .first()[0]
    )
    v_bytes = (
        blocks.filter(F.col("column") == "v")
        .agg(F.sum("enc_bytes"))
        .first()[0]
    )
    assert late_bytes is not None and v_bytes is not None
