"""NDV sketch sidecar (plans/ndvstats.py): per-file HLL register blobs,
a one-job max-merge, estimates within the sketch's error bound of exact
COUNT(DISTINCT); incremental refresh covers only new files; an older
parquet sidecar and blobs of the wrong size count for nothing."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from d6tstack_spark.plans.checkpoint import encode_resume
from d6tstack_spark.plans.ndvstats import (
    build_ndv_stats,
    ndv_estimates,
    refresh_ndv_stats,
)

ORDER = ("conv_id", "turn_idx")


def _mk(tmp_path, name, pref, n=3000, nconv=500):
    tbl = pa.table(
        {
            "conv_id": pa.array(
                [f"{pref}{j % nconv:05d}" for j in range(n)]
            ),
            "turn_idx": pa.array([j % 6 for j in range(n)], pa.int32()),
            "text": pa.array([f"msg {pref}{j}" for j in range(n)]),
            "score": pa.array([j * 0.5 for j in range(n)]),
        }
    )
    p = str(tmp_path / name)
    pq.write_table(tbl, p, row_group_size=512)
    return p


def _est(spark, sd):
    return {
        r["column"]: r["ndv_estimate"]
        for r in ndv_estimates(spark, sd).collect()
    }


def test_estimates_match_exact_ndv(spark, tmp_path):
    a = _mk(tmp_path, "a.parquet", "a")
    sd = str(tmp_path / "state")
    encode_resume(spark, [a], sd, order_cols=ORDER)
    rep = build_ndv_stats(spark, sd, ["conv_id", "turn_idx", "text"])
    assert rep["files_sketched"] > 0
    src = spark.read.parquet(a)
    est = _est(spark, sd)
    for col in ("conv_id", "turn_idx", "text"):
        exact = src.select(col).distinct().count()
        assert abs(est[col] - exact) / exact <= 0.05, (col, est[col], exact)
    # low-cardinality column lands in the linear-counting regime: exact
    assert est["turn_idx"] == 6.0


def test_refresh_covers_only_new_files(spark, tmp_path):
    a = _mk(tmp_path, "a.parquet", "a")
    sd = str(tmp_path / "state")
    encode_resume(spark, [a], sd, order_cols=ORDER)
    build_ndv_stats(spark, sd, ["conv_id"])
    assert refresh_ndv_stats(spark, sd)["files_refreshed"] == 0
    b = _mk(tmp_path, "b.parquet", "b")
    encode_resume(spark, [a, b], sd, order_cols=ORDER)
    rep = refresh_ndv_stats(spark, sd)
    assert rep["files_refreshed"] > 0
    src = spark.read.parquet(a, b)
    exact = src.select("conv_id").distinct().count()
    est = _est(spark, sd)["conv_id"]
    assert abs(est - exact) / exact <= 0.05, (est, exact)


def test_live_only_drops_retired_and_refresh_recovers(spark, tmp_path):
    from d6tstack_spark.plans.checkpoint import delete_where
    from d6tstack_spark.plans.maintenance import purge_deletes

    a = _mk(tmp_path, "a.parquet", "a")
    sd = str(tmp_path / "state")
    encode_resume(spark, [a], sd, order_cols=ORDER)
    build_ndv_stats(spark, sd, ["conv_id"])
    delete_where(spark, sd, "conv_id >= 'a00400'")
    purge_deletes(spark, sd, order_cols=ORDER)
    # rewrite retired sketched files; replacements are un-sketched →
    # estimate (live_only) undercounts until refresh
    refresh_ndv_stats(spark, sd)
    src = spark.read.parquet(a).filter("conv_id < 'a00400'")
    exact = src.select("conv_id").distinct().count()
    est = _est(spark, sd)["conv_id"]
    # stale pre-purge sketches are gone from the live view; only the
    # surviving + refreshed files count. The surviving files still hold
    # pre-purge value ranges only if they were untouched; tolerance stays
    # the sketch bound against the files actually covered
    assert abs(est - exact) / exact <= 0.05, (est, exact)


def test_state_info_reports_ndv(spark, tmp_path):
    from d6tstack_spark.plans.metrics import state_info

    a = _mk(tmp_path, "a.parquet", "a")
    sd = str(tmp_path / "state")
    encode_resume(spark, [a], sd, order_cols=ORDER)
    build_ndv_stats(spark, sd, ["conv_id"])
    info = state_info(spark, sd)
    # default call stays cheap: sidecar presence only, no merge job
    assert info["ndv_stats"]["columns"] == ["conv_id"]
    assert "estimates" not in info["ndv_stats"]
    info2 = state_info(spark, sd, with_ndv=True)
    assert "conv_id" in info2["ndv_stats"]["estimates"]


def test_unsketchable_and_missing_sidecar_refused(spark, tmp_path):
    a = _mk(tmp_path, "a.parquet", "a")
    sd = str(tmp_path / "state")
    encode_resume(spark, [a], sd, order_cols=ORDER)
    with pytest.raises(ValueError, match="un-sketchable"):
        build_ndv_stats(spark, sd, ["score"])  # float column
    with pytest.raises(ValueError, match="no NDV sidecar"):
        ndv_estimates(spark, sd)
    with pytest.raises(ValueError, match="not in manifest"):
        build_ndv_stats(spark, sd, ["nope"])


def test_old_layout_sidecar_is_ignored_then_rebuilt(spark, tmp_path):
    """A sidecar of the older parquet layout (a ``meta.json`` without the
    layout marker beside ``ndvstats/data/``) is invisible to reads, and
    ``refresh_ndv_stats`` rebuilds it as blobs and removes ``data/``."""
    import json
    import os

    from d6tstack_spark.plans.metrics import state_info

    a = _mk(tmp_path, "a.parquet", "a")
    sd = str(tmp_path / "state")
    encode_resume(spark, [a], sd, order_cols=ORDER)
    build_ndv_stats(spark, sd, ["conv_id"])
    want = _est(spark, sd)
    nd = os.path.join(sd, "ndvstats")
    for name in os.listdir(nd):
        p = os.path.join(nd, name)
        if os.path.isdir(p):
            for f in os.listdir(p):
                os.remove(os.path.join(p, f))
            os.rmdir(p)
    os.makedirs(os.path.join(nd, "data"))
    pq.write_table(
        pa.table(
            {
                "file": ["x.parquet"],
                "column": ["conv_id"],
                "n_distinct_file": pa.array([1], pa.int64()),
                "regs": pa.array([[0] * 4096], pa.list_(pa.int32())),
            }
        ),
        os.path.join(nd, "data", "part-0.parquet"),
    )
    with open(os.path.join(nd, "meta.json"), "w") as f:
        json.dump({"lg_k": 12, "columns": ["conv_id"], "built_ts": 0.0}, f)
    with pytest.raises(ValueError, match="no NDV sidecar"):
        ndv_estimates(spark, sd)
    assert "ndv_stats" not in state_info(spark, sd, with_ndv=True)

    rep = refresh_ndv_stats(spark, sd)
    assert rep["files_refreshed"] > 0
    assert not os.path.exists(os.path.join(nd, "data"))
    assert _est(spark, sd) == want
    assert refresh_ndv_stats(spark, sd)["files_refreshed"] == 0


def test_wrong_size_blob_is_not_merged(spark, tmp_path):
    """A blob of another size (a crashed rebuild under another lg_k)
    counts for nothing — the estimate merges only the blobs of the
    recorded sizing — and the next refresh rewrites it."""
    import os

    a = _mk(tmp_path, "a.parquet", "a")
    sd = str(tmp_path / "state")
    encode_resume(spark, [a], sd, order_cols=ORDER)
    build_ndv_stats(spark, sd, ["conv_id"])
    rows = ndv_estimates(spark, sd).collect()
    n_files = rows[0]["files"]
    want = rows[0]["ndv_estimate"]
    d = os.path.join(sd, "ndvstats", "conv_id")
    blob = os.path.join(d, sorted(os.listdir(d))[0])
    with open(blob, "wb") as f:  # an lg_k=13 blob of all-max registers
        f.write((1).to_bytes(8, "little") + bytes([50]) * 8192)
    row = ndv_estimates(spark, sd).collect()[0]
    assert row["files"] == n_files - 1
    assert row["ndv_estimate"] <= want
    assert refresh_ndv_stats(spark, sd)["files_refreshed"] == 1
    assert os.path.getsize(blob) == 8 + 4096
    assert _est(spark, sd)["conv_id"] == want
