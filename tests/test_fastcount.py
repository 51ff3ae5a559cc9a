"""Metadata-only / pruned counting (plans.fastcount): the count always
equals the exact decode, and the mode/file-classification report proves
how much payload the stats saved.

Layout under test: three staged appends (one encode_resume per source
file keeps per-file key ranges disjoint — the resume batch job
round-robins splits otherwise), ``seq`` strictly increasing across
files so range predicates can prune AND all-match at file granularity.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from d6tstack_spark.plans.checkpoint import decode_state, encode_resume
from d6tstack_spark.plans.fastcount import fast_count


@pytest.fixture()
def state3(spark, tmp_path):
    """3 files, seq ranges [0,1200) [1200,2400) [2400,3600); val has
    nulls everywhere; tag overlaps every file's zone range."""
    sd = str(tmp_path / "state")
    paths = []
    for i in range(3):
        n = 1200
        tbl = pa.table(
            {
                "conv_id": pa.array(
                    [f"{'abc'[i]}{j // 6:04d}" for j in range(n)]
                ),
                "turn_idx": pa.array([j % 6 for j in range(n)], pa.int32()),
                "seq": pa.array(
                    [i * n + j for j in range(n)], pa.int64()
                ),
                "val": pa.array(
                    [None if j % 7 == 0 else float(j % 100) for j in range(n)],
                    pa.float64(),
                ),
                "tag": pa.array([f"{j % 50:02d}_{i}" for j in range(n)]),
            }
        )
        p = str(tmp_path / f"src_{i}.parquet")
        pq.write_table(tbl, p)
        paths.append(p)
        # resume takes the FULL list each time; already-encoded files skip
        encode_resume(spark, paths, sd, order_cols=("conv_id", "turn_idx"))
    return sd


def test_count_star_is_metadata_only(spark, state3):
    rep = fast_count(spark, state3)
    assert rep["count"] == 3600
    assert rep["mode"] == "metadata"
    assert rep["files_decoded"] == 0
    assert rep["files_metadata_only"] == rep["files_total"] > 0


def test_range_count_prunes_and_proves_allmatch(spark, state3):
    # a boundary in the gap between file ranges proves file 0 all-match
    # and prunes files 1-2 — no payload read at all. Strict bounds on an
    # integer column are exact (the negation of "seq <= 1199" is
    # "seq >= 1200"), so the boundary-exact spelling proves it too.
    for where in ("seq <= 1199.5", "seq <= 1199"):
        rep = fast_count(spark, state3, where=where)
        assert rep["count"] == 1200
        assert rep["mode"] == "metadata"
        assert rep["files_pruned"] >= 1
        assert rep["files_decoded"] == 0
    # a range splitting a file decodes only the split file
    rep = fast_count(spark, state3, where="seq >= 600 AND seq < 2400")
    assert rep["count"] == 1800
    assert rep["files_decoded"] >= 1
    assert rep["files_decoded"] < rep["files_total"]


def test_null_column_blocks_allmatch_proof(spark, state3):
    # val has nulls in every file: "val >= 0" matches all NON-NULL rows,
    # so no file may be counted from stats alone
    rep = fast_count(spark, state3, where="val >= 0")
    exact = decode_state(spark, state3, where="val >= 0").count()
    assert rep["count"] == exact < 3600
    assert rep["files_metadata_only"] == 0


@pytest.mark.parametrize(
    "where",
    [
        "seq BETWEEN 100 AND 3100",
        "seq < 1200 OR seq >= 2400",
        "NOT (seq >= 1200)",
        "conv_id LIKE 'b%'",
        "val IS NULL",
        "val IS NOT NULL AND seq < 1800",
        "tag = '07_1'",
        "seq < 0",
        "turn_idx IN (0, 5) AND seq >= 2400",
    ],
)
def test_fast_count_matches_decode(spark, state3, where):
    rep = fast_count(spark, state3, where=where)
    exact = decode_state(spark, state3, where=where).count()
    assert rep["count"] == exact, (where, rep)


def test_single_file_prunes_at_block_granularity(spark, tmp_path):
    """One source file → one state file with many blocks: a narrow range
    must decode only the blocks holding it, and a gap-boundary range
    must metadata-count interior blocks."""
    n = 400_000  # 8 row groups, 2 per split -> 4 blocks
    tbl = pa.table(
        {
            "conv_id": pa.array([f"c{j // 50:05d}" for j in range(n)]),
            "turn_idx": pa.array([j % 50 for j in range(n)], pa.int32()),
            "seq": pa.array(list(range(n)), pa.int64()),
        }
    )
    p = str(tmp_path / "src.parquet")
    pq.write_table(tbl, p, row_group_size=50_000)
    sd = str(tmp_path / "state")
    encode_resume(spark, [p], sd, order_cols=("conv_id", "turn_idx"))

    rep = fast_count(spark, sd, where="seq >= 100 AND seq <= 150")
    assert rep["count"] == 51
    assert rep["blocks_total"] > 2
    assert 0 < rep["blocks_decoded"] < rep["blocks_total"]
    assert rep["blocks_kept"] < rep["blocks_total"]  # zone pruning hit
    # wide range with gap-safe boundaries: interior blocks metadata-only
    rep = fast_count(spark, sd, where="seq >= 99.5 AND seq <= 300000.5")
    assert rep["count"] == 299_901
    assert rep["blocks_decoded"] < rep["blocks_kept"]  # all-match proof hit


def test_tombstones_force_exact_fallback(spark, state3):
    from d6tstack_spark.plans.checkpoint import delete_where

    delete_where(spark, state3, "seq >= 3000")
    rep = fast_count(spark, state3)
    assert rep["count"] == 3000
    assert rep["mode"] == "fallback"
    rep = fast_count(spark, state3, where="seq >= 2400")
    assert rep["count"] == 600


def test_fast_profile_is_metadata_only(spark, state3):
    from d6tstack_spark.plans.fastcount import fast_profile

    prof = {r["column"]: r.asDict() for r in fast_profile(spark, state3).collect()}
    assert prof["seq"]["n_rows"] == 3600
    assert prof["seq"]["null_count"] == 0
    # val: every 7th row null per file
    assert prof["val"]["null_count"] == 3 * len(range(0, 1200, 7))
    assert prof["val"]["non_null"] == 3600 - prof["val"]["null_count"]


def test_fast_profile_counts_evolution_backfill(spark, tmp_path):
    """A column added by a later append: pre-evolution blocks have no
    stats rows for it, but decode surfaces their rows as null — the
    profile must agree with the decode, not the physical storage."""
    from d6tstack_spark.plans.fastcount import fast_profile

    def _mk(path, n, with_extra):
        cols = {
            "conv_id": pa.array([f"c{j // 6:03d}" for j in range(n)]),
            "turn_idx": pa.array([j % 6 for j in range(n)], pa.int32()),
        }
        if with_extra:
            cols["extra"] = pa.array([float(j) for j in range(n)])
        pq.write_table(pa.table(cols), path)

    p1 = str(tmp_path / "g1.parquet")
    p2 = str(tmp_path / "g2.parquet")
    _mk(p1, 600, False)
    _mk(p2, 300, True)
    sd = str(tmp_path / "state")
    encode_resume(spark, [p1], sd, order_cols=("conv_id", "turn_idx"))
    encode_resume(spark, [p1, p2], sd, order_cols=("conv_id", "turn_idx"))
    prof = {r["column"]: r.asDict() for r in fast_profile(spark, sd).collect()}
    assert prof["extra"]["n_rows"] == 900
    assert prof["extra"]["null_count"] == 600  # the backfilled old rows
    assert prof["extra"]["non_null"] == 300
    assert prof["conv_id"]["null_count"] == 0


def test_fast_profile_refuses_pending_tombstones(spark, state3):
    from d6tstack_spark.plans.checkpoint import delete_where
    from d6tstack_spark.plans.fastcount import fast_profile

    delete_where(spark, state3, "seq >= 3000")
    with pytest.raises(RuntimeError, match="tombstones"):
        fast_profile(spark, state3)


def test_fast_min_max_exact(spark, state3):
    from d6tstack_spark.plans.fastcount import fast_min_max

    r = fast_min_max(spark, state3, "seq")
    assert (r["min"], r["max"]) == (0, 3599)
    assert r["mode"] == "hybrid"
    r = fast_min_max(spark, state3, "conv_id")
    assert (r["min"], r["max"]) == ("a0000", "c0199")
    r = fast_min_max(spark, state3, "val")  # nulls skipped
    assert (r["min"], r["max"]) == (0.0, 99.0)


def test_fast_min_max_beyond_float53(spark, tmp_path):
    """int64 extremes past 2^53: float-rounded stats collapse distinct
    values, so several blocks tie as candidates — the exact answer must
    come from the decode, not the stats."""
    from d6tstack_spark.plans.fastcount import fast_min_max

    base = 2**60
    vals = [base + j for j in range(4000)]
    tbl = pa.table(
        {
            "conv_id": pa.array([f"c{j // 50:04d}" for j in range(4000)]),
            "turn_idx": pa.array([j % 50 for j in range(4000)], pa.int32()),
            "big": pa.array(vals, pa.int64()),
        }
    )
    p = str(tmp_path / "src.parquet")
    pq.write_table(tbl, p, row_group_size=500)
    sd = str(tmp_path / "state")
    encode_resume(spark, [p], sd, order_cols=("conv_id", "turn_idx"))
    r = fast_min_max(spark, sd, "big")
    assert (r["min"], r["max"]) == (base, base + 3999)


def test_fast_min_max_all_null_and_fallback(spark, tmp_path):
    from d6tstack_spark.plans.checkpoint import delete_where
    from d6tstack_spark.plans.fastcount import fast_min_max

    n = 600
    tbl = pa.table(
        {
            "conv_id": pa.array([f"c{j // 6:03d}" for j in range(n)]),
            "turn_idx": pa.array([j % 6 for j in range(n)], pa.int32()),
            "empty": pa.array([None] * n, pa.float64()),
            "seq": pa.array(list(range(n)), pa.int64()),
        }
    )
    p = str(tmp_path / "src.parquet")
    pq.write_table(tbl, p)
    sd = str(tmp_path / "state")
    encode_resume(spark, [p], sd, order_cols=("conv_id", "turn_idx"))
    r = fast_min_max(spark, sd, "empty")
    assert (r["min"], r["max"]) == (None, None)
    assert r["mode"] == "metadata"
    delete_where(spark, sd, "seq < 100")
    r = fast_min_max(spark, sd, "seq")
    assert r["mode"] == "fallback"
    assert (r["min"], r["max"]) == (100, 599)


def test_preview_state_reads_one_file(spark, state3):
    from d6tstack_spark.plans.fastcount import preview_state

    head = preview_state(spark, state3, n=50)
    rows = head.collect()
    assert len(rows) == 50
    assert set(head.columns) == {"conv_id", "turn_idx", "seq", "val", "tag"}
    # larger than any single file: accumulates across files
    assert preview_state(spark, state3, n=2000).count() == 2000
    # larger than the table: everything, once
    assert preview_state(spark, state3, n=10_000).count() == 3600


def test_snapshot_count(spark, state3):
    from d6tstack_spark.plans.checkpoint import load_snapshots

    recs = load_snapshots(state3)
    first = recs[0]["id"]
    rep = fast_count(spark, state3, snapshot=first)
    assert rep["count"] == 1200
    assert rep["mode"] == "metadata"


def test_bloom_prunes_fast_count(spark, state3):
    """``tag`` zone ranges overlap in every file, so only a Bloom index
    prunes a point count on it: the count still equals the decode, and
    every file but the one holding the value is pruned."""
    from d6tstack_spark.plans.bloomidx import build_bloom_index

    where = "tag = '07_1'"
    before = fast_count(spark, state3, where=where)
    build_bloom_index(spark, state3, ["tag"])
    rep = fast_count(spark, state3, where=where)
    exact = decode_state(spark, state3, where=where).count()
    assert rep["count"] == before["count"] == exact > 0
    assert rep["files_decoded"] == 1
    assert rep["files_pruned"] > before["files_pruned"]
    assert rep["files_pruned"] + rep["files_decoded"] == rep["files_total"]
