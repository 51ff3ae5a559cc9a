"""Zone-map block pruning: per-block min/max recorded at encode, whole
blocks skipped at decode when their range cannot overlap the predicate —
the decode-side analogue of parquet row-group stats, at 100 TB the
difference between decoding a slice and decoding the corpus."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from d6tstack_spark.operators.encode import (
    _stat_upper_bytes,
    decode_parquet_blocks,
    decode_table,
    encode_parquet_files,
)
from d6tstack_spark.operators.sinks import write_blocks


_DD_CON = None


def _dd_con():
    """Test-module-private DuckDB connection: NOT the process-global
    default (one fatal error there poisons every later test in the
    shared-process suite), and held in a module global so relations
    created from it are not invalidated by GC closing the connection."""
    global _DD_CON
    if _DD_CON is None:
        import duckdb

        _DD_CON = duckdb.connect()
    return _DD_CON


@pytest.fixture(scope="module")
def multi_block(spark, tmp_path_factory):
    """A sorted 20k-row table written with 1k-row row groups → ~10 blocks,
    each owning a disjoint id range (the zone map's best case, which is
    also the realistic case for an ordered ingest key)."""
    d = tmp_path_factory.mktemp("zm")
    n = 20_000
    rng = np.random.default_rng(7)
    tbl = pa.table(
        {
            "k": pa.array(np.arange(n, dtype=np.int64)),
            "grp": pa.array([f"g{(i // 5000):02d}" for i in range(n)]),
            "val": pa.array(rng.random(n)),
        }
    )
    src = str(d / "src.parquet")
    pq.write_table(tbl, src, row_group_size=1000)
    blocks, man = encode_parquet_files(
        spark, src, order_cols=("k",), row_groups_per_split=1
    )
    bdir = str(d / "blocks")
    write_blocks(blocks, bdir)
    return src, bdir, man


def test_stats_recorded(spark, multi_block):
    src, bdir, man = multi_block
    bl = spark.read.parquet(bdir)
    st = (
        bl.filter(F.col("column") == "k")
        .select("block_id", "vmin_num", "vmax_num")
        .toPandas()
        .sort_values("vmin_num")
    )
    assert len(st) >= 10
    assert st["vmin_num"].notna().all()
    # conservative and ordered: each block's widened range contains its slice
    assert st["vmin_num"].iloc[0] <= 0 and st["vmax_num"].iloc[-1] >= 19999
    gs = spark.read.parquet(bdir).filter(F.col("column") == "grp")
    row = gs.select("vmin_str", "vmax_str").first()
    assert row["vmin_str"] is not None and row["vmax_str"] is not None


@pytest.mark.parametrize("path", ["bulk", "table"])
def test_pruned_decode_equals_filtered_full(spark, multi_block, path):
    src, bdir, man = multi_block
    lo, hi = 3_000, 4_500
    full = spark.read.parquet(src)
    want = (
        full.filter((F.col("k") >= lo) & (F.col("k") <= hi))
        .orderBy("k")
        .toPandas()
    )
    if path == "bulk":
        dec = decode_parquet_blocks(spark, bdir, man, block_filter=("k", lo, hi))
    else:
        dec = decode_table(
            spark.read.parquet(bdir), man, block_filter=("k", lo, hi)
        )
    # pruning actually happened: far fewer rows decoded than the corpus
    n_dec = dec.count()
    assert n_dec < 20_000 / 2, n_dec
    got = (
        dec.filter((F.col("k") >= lo) & (F.col("k") <= hi))
        .orderBy("k")
        .toPandas()[want.columns.tolist()]
    )
    pd.testing.assert_frame_equal(want.reset_index(drop=True), got.reset_index(drop=True))


def test_string_zone_filter(spark, multi_block):
    src, bdir, man = multi_block
    dec = decode_table(
        spark.read.parquet(bdir), man, block_filter=("grp", "g01", "g01")
    )
    n = dec.count()
    assert 5_000 <= n < 20_000  # g01's blocks only (± boundary blocks)
    got = dec.filter(F.col("grp") == "g01").count()
    assert got == 5_000


def test_open_ranges_and_projection(spark, multi_block):
    src, bdir, man = multi_block
    dec = decode_parquet_blocks(
        spark, bdir, man, columns=["k"], block_filter=("k", 18_000, None)
    )
    assert dec.columns == ["k"]
    assert dec.filter(F.col("k") >= 18_000).count() == 2_000
    assert dec.count() < 10_000
    dec2 = decode_table(
        spark.read.parquet(bdir), man, block_filter=("k", None, 999)
    )
    assert dec2.filter(F.col("k") <= 999).count() == 1_000
    assert dec2.count() < 10_000


def test_disjoint_range_decodes_nothing(spark, multi_block):
    src, bdir, man = multi_block
    dec = decode_parquet_blocks(
        spark, bdir, man, block_filter=("k", 1_000_000, 2_000_000)
    )
    assert dec.count() == 0


def test_unknown_filter_column_raises(spark, multi_block):
    src, bdir, man = multi_block
    with pytest.raises(ValueError, match="not in manifest"):
        decode_table(
            spark.read.parquet(bdir), man, block_filter=("nope", 0, 1)
        )


def test_stat_upper_bytes_truncation():
    assert _stat_upper_bytes(b"abc") == b"abc"
    long = b"a" * 100
    up = _stat_upper_bytes(long)
    assert len(up) <= 64 and up > long  # still an upper bound after the cut
    assert _stat_upper_bytes(b"\xff" * 100) is None
    edge = b"a" * 63 + b"\xff" + b"zzz"
    up = _stat_upper_bytes(edge)
    assert up == b"a" * 62 + b"b" and up > edge


def test_nan_float_stats_parquet_semantics(spark, tmp_path):
    """Float stats skip NaN (Arrow min_max = parquet stats semantics): the
    bounds cover the non-NaN values, so a range that matches them keeps the
    whole block (incl. its NaN rows), while a range no non-NaN value can
    match may drop the block — exactly what a range predicate means, since
    NaN satisfies no range predicate."""
    d = str(tmp_path / "nan.parquet")
    vals = [1.0, float("nan"), 5.0, None]
    pq.write_table(pa.table({"k": pa.array([0, 1, 2, 3], pa.int64()),
                             "x": pa.array(vals, pa.float64())}), d)
    blocks, man = encode_parquet_files(spark, d, order_cols=("k",))
    bl = blocks.cache()
    st = bl.filter(F.col("column") == "x").select("vmin_num", "vmax_num").first()
    assert st["vmin_num"] <= 1.0 and st["vmax_num"] >= 5.0
    assert decode_table(bl, man, block_filter=("x", 0.0, 10.0)).count() == 4
    assert decode_table(bl, man, block_filter=("x", 100.0, 200.0)).count() == 0
    bl.unpersist()


def test_pre_zonemap_blocks_tolerated(spark, multi_block):
    """Blocks written before zone maps existed (no stats columns): the
    filter degrades to a no-op instead of failing or mis-pruning."""
    src, bdir, man = multi_block
    legacy = spark.read.parquet(bdir).drop(
        "vmin_num", "vmax_num", "vmin_str", "vmax_str"
    )
    dec = decode_table(legacy, man, block_filter=("k", 0, 10))
    assert dec.count() == 20_000  # everything decodes; caller's row filter applies

def test_wide_filter_many_blocks_no_driver_id_state(spark, tmp_path):
    """Scale-safety of the bulk-decode zone filter: qualifying-block ids
    are never collected to the driver (round-3 review item). The driver
    only prunes FILES; each task re-derives its own file's qualifying ids
    from local stats. A wide range that keeps thousands of blocks must
    behave identically to the unfiltered decode — with task state O(blocks
    per file), not O(qualifying blocks)."""
    d = str(tmp_path / "many.parquet")
    n = 40_000
    pq.write_table(
        pa.table({"k": pa.array(np.arange(n, dtype=np.int64)),
                  "v": pa.array(np.arange(n, dtype=np.float64))}),
        d, row_group_size=16,  # 2500 row groups -> 2500 blocks
    )
    blocks, man = encode_parquet_files(
        spark, d, order_cols=("k",), row_groups_per_split=1
    )
    bdir = str(tmp_path / "many_blocks")
    write_blocks(blocks, bdir)
    nb = spark.read.parquet(bdir).select("block_id").distinct().count()
    assert nb >= 2_000, nb
    # wide range: virtually every block qualifies
    dec = decode_parquet_blocks(spark, bdir, man, block_filter=("k", 5, None))
    assert dec.count() == n - (5 // 16) * 16  # whole blocks below 5 pruned only
    assert dec.filter(F.col("k") >= 5).count() == n - 5
    # narrow range: a couple of blocks
    dec2 = decode_parquet_blocks(spark, bdir, man, block_filter=("k", 100, 110))
    assert dec2.filter((F.col("k") >= 100) & (F.col("k") <= 110)).count() == 11
    assert dec2.count() <= 64  # a handful of 16-row blocks, not the corpus


def test_vanished_file_raises_clear_error(spark, tmp_path):
    """A blocks file listed at planning time but deleted before task read
    (another process rewriting a shared sink — the round-3 bench crash)
    must surface as a clear 'dir changed under me' error, not a bare
    FileNotFoundError from deep inside pyarrow."""
    import glob
    import os

    d = str(tmp_path / "src.parquet")
    pq.write_table(
        pa.table({"k": pa.array(np.arange(1000, dtype=np.int64))}),
        d, row_group_size=100,
    )
    blocks, man = encode_parquet_files(spark, d, order_cols=("k",))
    bdir = str(tmp_path / "blocks")
    write_blocks(blocks, bdir)
    dec = decode_parquet_blocks(spark, bdir, man)  # plans + lists files now
    os.remove(sorted(glob.glob(f"{bdir}/*.parquet"))[0])
    with pytest.raises(Exception, match="blocks dir changed under the running decode"):
        dec.count()


def test_zone_filter_on_non_projected_column(spark, multi_block):
    """The classic decode shape at 100 TB: 'give me column X for rows whose
    ingest key is in [lo, hi]' — the zone-filter column is pruned OUT of
    the projection. Both decode paths must prune on it anyway."""
    src, bdir, man = multi_block
    dec = decode_parquet_blocks(
        spark, bdir, man, columns=["grp"], block_filter=("k", 100, 300)
    )
    assert dec.columns == ["grp"]
    assert dec.count() < 20_000 / 2  # pruning engaged
    dec2 = decode_table(
        spark.read.parquet(bdir), man, columns=["grp"],
        block_filter=("k", 100, 300),
    )
    assert dec2.columns == ["grp"] and dec2.count() < 20_000 / 2


@pytest.mark.parametrize("path", ["bulk", "table"])
def test_compound_filter_conjunction(spark, multi_block, path):
    """Multi-predicate zone filter (list of (col, lo, hi), ANDed) — the
    multi-column WHERE clause shape. The intersection must prune at least
    as hard as either predicate alone and the decoded superset must still
    contain every matching row."""
    src, bdir, man = multi_block
    preds = [("k", 4_000, 9_000), ("grp", "g00", "g00")]  # overlap: 4000-4999
    full = spark.read.parquet(src)
    want = (
        full.filter(
            (F.col("k") >= 4_000) & (F.col("k") <= 9_000)
            & (F.col("grp") == "g00")
        )
        .orderBy("k")
        .toPandas()
    )
    assert len(want) == 1_000
    if path == "bulk":
        dec = decode_parquet_blocks(spark, bdir, man, block_filter=preds)
    else:
        dec = decode_table(spark.read.parquet(bdir), man, block_filter=preds)
    n_dec = dec.count()
    assert n_dec <= 3_000, n_dec  # ~1 qualifying block (+ boundary blocks)
    got = (
        dec.filter(
            (F.col("k") >= 4_000) & (F.col("k") <= 9_000)
            & (F.col("grp") == "g00")
        )
        .orderBy("k")
        .toPandas()[want.columns.tolist()]
    )
    pd.testing.assert_frame_equal(
        want.reset_index(drop=True), got.reset_index(drop=True)
    )


@pytest.mark.parametrize("path", ["bulk", "table"])
def test_compound_filter_disjoint_conjunction(spark, multi_block, path):
    """Each predicate alone matches thousands of rows, but no block can
    satisfy both — the conjunction must decode NOTHING (with the right
    empty schema), proving the intersection happens at the block level,
    not per-predicate-union."""
    src, bdir, man = multi_block
    preds = [("k", 0, 999), ("grp", "g03", "g03")]  # k<1000 lives in g00
    if path == "bulk":
        dec = decode_parquet_blocks(spark, bdir, man, block_filter=preds)
    else:
        dec = decode_table(spark.read.parquet(bdir), man, block_filter=preds)
    assert dec.count() == 0
    assert dec.columns == ["k", "grp", "val"]


def test_compound_single_item_list_equals_tuple(spark, multi_block):
    """A one-element list must behave exactly like the bare tuple."""
    src, bdir, man = multi_block
    a = decode_parquet_blocks(
        spark, bdir, man, block_filter=("k", 3_000, 4_500)
    ).count()
    b = decode_parquet_blocks(
        spark, bdir, man, block_filter=[("k", 3_000, 4_500)]
    ).count()
    assert a == b


def test_compound_filter_projection_and_bad_pred(spark, multi_block):
    """Compound filter on columns pruned out of the projection; malformed
    predicate raises a clear error."""
    src, bdir, man = multi_block
    dec = decode_parquet_blocks(
        spark, bdir, man, columns=["val"],
        block_filter=[("k", 5_000, 5_999), ("grp", "g01", "g01")],
    )
    assert dec.columns == ["val"]
    assert 1_000 <= dec.count() <= 3_000
    with pytest.raises(ValueError, match="must be"):
        decode_table(
            spark.read.parquet(bdir), man, block_filter=[("k", 0)]
        )


_WHERE_MAN = {
    "k": {"ptype": "i64", "logical": None},
    "grp": {"ptype": "str", "logical": None},
    "ts": {"ptype": "i64", "logical": "ts_ntz"},
    "d": {"ptype": "i32", "logical": "date"},
}


def _where_dnf(spark, where):
    from d6tstack_spark.operators.encode import compile_where

    return compile_where(spark, where, _WHERE_MAN).dnf


def test_zone_predicates_from_where_forms(spark):
    import datetime as dt

    def dnf(where):
        return _where_dnf(spark, where)

    # single conjunctions: comparisons either way round, BETWEEN (two
    # inclusive bounds), typed literals, IN envelopes, null predicates
    assert dnf("k >= 10 AND k < 20") == [[("k", 10, None), ("k", None, 19)]]
    assert dnf("k BETWEEN 5 AND 9") == [[("k", 5, None), ("k", None, 9)]]
    assert dnf("grp = 'g01'") == [[("grp", "g01", "g01")]]
    assert dnf("100 <= k") == [[("k", 100, None)]]
    assert dnf("ts >= TIMESTAMP '2020-01-02 03:04:05'") == [
        [("ts", dt.datetime(2020, 1, 2, 3, 4, 5), None)],
    ]
    assert dnf("d < DATE '2021-06-01'") == [[("d", None, dt.date(2021, 6, 1))]]
    assert dnf("k IN (1, 7, 2)") == [[("k", 1, 7)]]
    assert dnf("grp IN ('b', 'a')") == [[("grp", "a", "b")]]
    assert dnf("k IS NULL") == [[("k", "is_null")]]
    assert dnf("grp IS NOT NULL") == [[("grp", "not_null")]]
    # conservative skips: functions, unknown columns, type mismatch, and
    # a literal ANSI cannot cast (the row filter raises that error)
    assert dnf("upper(grp) = 'G'") == []
    assert dnf("nope = 3") == []
    assert dnf("grp = 3") == []
    assert dnf("k IN (1, 'x')") == []
    # an escaped quote stays one literal; BETWEEN's AND does not split
    assert dnf("grp = 'a''nd' AND k BETWEEN 1 AND 2") == [
        [("grp", "a'nd", "a'nd"), ("k", 1, None), ("k", None, 2)],
    ]


def test_zone_dnf_from_where_forms(spark):
    from d6tstack_spark.operators.encode import compile_where

    man = _WHERE_MAN

    def dnf(where):
        return _where_dnf(spark, where)

    # plain disjunction → one branch per arm
    assert dnf("k = 1 OR k = 2") == [[("k", 1, 1)], [("k", 2, 2)]]
    # AND binds tighter than OR (SQL precedence, no parens needed)
    assert dnf("k >= 1 AND grp = 'a' OR k <= -5") == [
        [("k", 1, None), ("grp", "a", "a")], [("k", None, -5)],
    ]
    # conjunction distributes over a parenthesized OR
    assert dnf("k >= 10 AND (grp = 'a' OR grp = 'b')") == [
        [("k", 10, None), ("grp", "a", "a")],
        [("k", 10, None), ("grp", "b", "b")],
    ]
    assert dnf("(k >= 1 AND grp = 'a') AND (k = 2 OR k = 3)") == [
        [("k", 1, None), ("grp", "a", "a"), ("k", 2, 2)],
        [("k", 1, None), ("grp", "a", "a"), ("k", 3, 3)],
    ]
    # an unprunable atom inside a conjunction is a TRUE factor...
    assert dnf("k > 3 AND k % 2 = 0") == [[("k", 4, None)]]
    # ...but poisons a disjunction: rows could match anywhere
    assert dnf("k > 3 OR k % 2 = 0") == []
    assert dnf("k = 1 OR upper(grp) = 'G'") == []
    # branch-cap: a 2^7-branch cross product refuses to blow up
    expr = " AND ".join(f"(k = {i} OR grp = 'g{i}')" for i in range(7))
    assert dnf(expr) == []
    # nested parens + mixed arms
    assert dnf("((k BETWEEN 1 AND 3 AND grp IS NULL) OR (k > 100))") == [
        [("k", 1, None), ("k", None, 3), ("grp", "is_null")],
        [("k", 101, None)],
    ]
    # NOT: atom negation (strict integer bounds are the next integer)
    assert dnf("NOT k <= 5") == [[("k", 6, None)]]
    assert dnf("NOT (k BETWEEN 10 AND 20)") == [
        [("k", None, 9)], [("k", 21, None)],
    ]
    # De Morgan: ¬(a OR b) = ¬a AND ¬b; ¬(a AND b) = ¬a OR ¬b
    assert dnf("NOT (k < 5 OR k > 100)") == [[("k", 5, None), ("k", None, 100)]]
    assert dnf("NOT (NOT k > 7)") == [[("k", 8, None)]]
    assert dnf("NOT grp IS NULL") == [[("grp", "not_null")]]
    # unprunable negations: point complement; poisoned ¬AND arm;
    # unprunable ¬arm inside ¬OR is just a TRUE factor
    assert dnf("NOT k = 3") == []
    assert dnf("NOT (k >= 5 AND grp = 'a')") == []
    assert dnf("NOT (k < 5 OR upper(grp) = 'G')") == [[("k", 5, None)]]
    # NOT binds tighter than AND
    assert dnf("NOT k < 100 AND grp = 'a'") == [
        [("k", 100, None), ("grp", "a", "a")],
    ]
    # prefix LIKE → [prefix, strict-upper-bound) range; wildcard-free
    # LIKE → equality; interior wildcards and NOT LIKE are unprunable
    assert dnf("grp LIKE 'g0%'") == [[("grp", "g0", b"g1")]]
    assert dnf("grp LIKE 'abc'") == [[("grp", "abc", "abc")]]
    assert dnf("grp LIKE '%x'") == []
    assert dnf("grp LIKE 'a_c%'") == []
    assert dnf("NOT grp LIKE 'g0%'") == []
    assert dnf("k LIKE 'g%'") == []  # non-string col

    # the rest of the compile: columns resolve case-insensitively, IN
    # value sets survive for the Bloom prober, and the negation widens
    # with IS NULL for the all-match proof
    cw = compile_where(spark, "K > 5 AND grp IN ('b', 'a')", man)
    assert cw.dnf == [[("k", 6, None), ("grp", "a", "b")]]
    assert cw.columns == ["k", "grp"]
    assert cw.in_sets == [("grp", ["b", "a"])]
    assert compile_where(spark, "k > 5", man).not_dnf == [
        [("k", None, 5)], [("k", "is_null")],
    ]
    assert compile_where(spark, "nope = 3", man).columns == list(man)


@pytest.mark.parametrize("path", ["bulk", "table"])
def test_or_filter_unions_blocks(spark, multi_block, path):
    """DNF block_filter (list of lists): both ends of the key range decode,
    the middle is pruned — the union of two disjoint branch ranges."""
    src, bdir, man = multi_block
    dnf = [[("k", 0, 999)], [("k", 18_000, None)]]
    if path == "bulk":
        dec = decode_parquet_blocks(spark, bdir, man, block_filter=dnf)
    else:
        dec = decode_table(spark.read.parquet(bdir), man, block_filter=dnf)
    n_dec = dec.count()
    assert n_dec < 10_000, n_dec  # middle 16k keys pruned
    assert dec.filter((F.col("k") <= 999) | (F.col("k") >= 18_000)).count() == 3_000
    # cross-column branches: low keys OR the g03 group
    dnf2 = [[("k", None, 499)], [("grp", "g03", "g03")]]
    if path == "bulk":
        dec2 = decode_parquet_blocks(spark, bdir, man, block_filter=dnf2)
    else:
        dec2 = decode_table(spark.read.parquet(bdir), man, block_filter=dnf2)
    assert dec2.filter(
        (F.col("k") <= 499) | (F.col("grp") == "g03")
    ).count() == 5_500
    assert dec2.count() < 10_000
    # disjoint both-branch miss decodes nothing
    dnf3 = [[("k", 1_000_000, None)], [("grp", "zzz", "zzz")]]
    if path == "bulk":
        dec3 = decode_parquet_blocks(spark, bdir, man, block_filter=dnf3)
    else:
        dec3 = decode_table(spark.read.parquet(bdir), man, block_filter=dnf3)
    assert dec3.count() == 0


def test_decode_where_or_end_to_end(spark, multi_block):
    from d6tstack_spark.operators.encode import decode_where

    src, bdir, man = multi_block
    full = spark.read.parquet(src)
    for where in (
        "k < 1000 OR k >= 18000",
        "k < 500 OR grp = 'g03'",
        "(k BETWEEN 100 AND 200 AND grp = 'g00') OR k > 19500",
        "k < 100 OR k % 7 = 0",  # unprunable arm: full scan, exact filter
        "NOT (k >= 1000 AND k < 18000)",  # De Morgan → two outer ranges
        "NOT (k BETWEEN 500 AND 19000) OR grp = 'g02'",
        "NOT k >= 2000 AND NOT grp IS NULL",
        "grp LIKE 'g03%' OR k < 250",  # prefix-LIKE branch prunes
    ):
        want = full.filter(where).orderBy("k").toPandas()
        got = (
            decode_where(spark, bdir, man, where)
            .orderBy("k")
            .toPandas()[want.columns.tolist()]
        )
        pd.testing.assert_frame_equal(
            want.reset_index(drop=True), got.reset_index(drop=True)
        )


def test_decode_where_end_to_end(spark, multi_block):
    from d6tstack_spark.operators.encode import decode_where

    src, bdir, man = multi_block
    full = spark.read.parquet(src)
    where = "k BETWEEN 4000 AND 9000 AND grp = 'g00' AND val >= 0.0"
    want = full.filter(where).orderBy("k").toPandas()
    got = (
        decode_where(spark, bdir, man, where)
        .orderBy("k")
        .toPandas()[want.columns.tolist()]
    )
    pd.testing.assert_frame_equal(
        want.reset_index(drop=True), got.reset_index(drop=True)
    )
    # projection with the predicate on non-projected columns
    got2 = decode_where(spark, bdir, man, where, columns=["val"])
    assert got2.columns == ["val"]
    assert got2.count() == len(want)
    # DataFrame (decode_table) path
    got3 = decode_where(spark, spark.read.parquet(bdir), man, where)
    assert got3.count() == len(want)
    # un-prunable predicate still filters exactly
    got4 = decode_where(spark, bdir, man, "k % 2 = 0 AND k < 10")
    assert got4.count() == 5


@pytest.mark.parametrize("path", ["bulk", "table"])
def test_null_predicate_pruning(spark, tmp_path, path):
    """IS NULL / IS NOT NULL pruning via the per-block null_count: nulls
    planted only in the first 2k rows, so 'x IS NULL' must decode a small
    prefix of blocks and 'x IS NOT NULL' everything that has any value."""
    from d6tstack_spark.operators.encode import decode_where

    n = 20_000
    x = np.arange(n, dtype=np.float64)
    mask = np.zeros(n, dtype=bool)
    mask[:2_000] = True  # nulls live in the first blocks only
    xa = pa.array([None if m else float(v) for m, v in zip(mask, x)], pa.float64())
    src = str(tmp_path / "src.parquet")
    pq.write_table(
        pa.table({"k": pa.array(np.arange(n, dtype=np.int64)), "x": xa}),
        src, row_group_size=1000,
    )
    blocks, man = encode_parquet_files(
        spark, src, order_cols=("k",), row_groups_per_split=1
    )
    bdir = str(tmp_path / "blocks")
    write_blocks(blocks, bdir)
    if path == "bulk":
        dec = decode_parquet_blocks(
            spark, bdir, man, block_filter=("x", "is_null")
        )
    else:
        dec = decode_table(
            spark.read.parquet(bdir), man, block_filter=("x", "is_null")
        )
    assert dec.filter(F.col("x").isNull()).count() == 2_000
    assert dec.count() <= 4_000  # only the null-bearing blocks decoded
    # decode_where compiles the SQL form and applies the exact filter
    dw = decode_where(spark, bdir, man, "x IS NULL")
    assert dw.count() == 2_000
    assert decode_where(spark, bdir, man, "x IS NOT NULL").count() == 18_000
    # IN-list envelope prunes like a range
    din = decode_where(spark, bdir, man, "k IN (5000, 5001, 5500)")
    assert din.count() == 3


# --------------------------------------------------------------------------
# Property: decode_where == DuckDB on the source, for ANY generated predicate
# --------------------------------------------------------------------------
# The invariant that matters at 100 TB: zone pruning must NEVER lose a row.
# Generate predicates from the whole supported grammar (comparisons,
# BETWEEN, IN-lists, IS [NOT] NULL, AND, parenthesized OR; doubled-quote
# string literals, any column-name case) and compare the
# pruned decode's row set against DuckDB evaluating the same SQL text on
# the original parquet — same rows or the pruning is wrong.

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst

_num_lit = hst.integers(min_value=-100, max_value=20_100)
# doubled-quote escapes ('g''01' is the value g'01); no backslashes —
# DuckDB does not unescape them, Spark does
_grp_lit = hst.one_of(
    hst.integers(min_value=-1, max_value=4).map(lambda i: f"'g{i:02d}'"),
    hst.sampled_from(["'g''01'", "'g01, '"]),
)
_cmp_ops = hst.sampled_from(["=", "<", "<=", ">", ">="])


def _name(col: str) -> hst.SearchStrategy[str]:
    """Column spellings both engines resolve case-insensitively."""
    return hst.sampled_from([col, col.upper(), col.capitalize()])


def _simple_pred() -> hst.SearchStrategy[str]:
    k_cmp = hst.tuples(_name("k"), _cmp_ops, _num_lit).map(
        lambda t: f"{t[0]} {t[1]} {t[2]}"
    )
    k_between = hst.tuples(
        _name("k"), hst.tuples(_num_lit, _num_lit).map(sorted)
    ).map(lambda t: f"{t[0]} BETWEEN {t[1][0]} AND {t[1][1]}")
    k_in = hst.tuples(
        _name("k"), hst.lists(_num_lit, min_size=1, max_size=4)
    ).map(lambda t: f"{t[0]} IN ({', '.join(map(str, t[1]))})")
    grp_cmp = hst.tuples(_name("grp"), _cmp_ops, _grp_lit).map(
        lambda t: f"{t[0]} {t[1]} {t[2]}"
    )
    grp_in = hst.tuples(
        _name("grp"), hst.lists(_grp_lit, min_size=1, max_size=3)
    ).map(lambda t: f"{t[0]} IN ({', '.join(t[1])})")
    null_p = hst.tuples(
        hst.sampled_from(["k", "grp", "val"]).flatmap(_name),
        hst.sampled_from(["IS NULL", "IS NOT NULL"]),
    ).map(lambda t: f"{t[0]} {t[1]}")
    grp_like = hst.tuples(
        _name("grp"),
        hst.sampled_from(
            ["'g%'", "'g0%'", "'g01%'", "'g01'", "'%1'", "'h%'", "''"]
        ),
    ).map(lambda t: f"{t[0]} LIKE {t[1]}")
    val_cmp = hst.tuples(
        _name("val"),
        _cmp_ops,
        hst.floats(min_value=0.0, max_value=1.0, width=16),
    ).map(lambda t: f"{t[0]} {t[1]} {t[2]!r}")
    return hst.one_of(
        k_cmp, k_between, k_in, grp_cmp, grp_in, null_p, val_cmp, grp_like
    )


def _predicate() -> hst.SearchStrategy[str]:
    simple = hst.one_of(
        _simple_pred(),
        _simple_pred().map(lambda p: f"NOT {p}"),
    )
    or_group = hst.tuples(simple, simple).map(lambda t: f"({t[0]} OR {t[1]})")
    not_group = or_group.map(lambda g: f"NOT {g}")
    conjunct = hst.one_of(simple, or_group, not_group)
    conj_chain = hst.lists(conjunct, min_size=1, max_size=3).map(" AND ".join)
    # top-level disjunctions of AND-chains exercise the DNF compiler's
    # OR-first split and SQL precedence (AND binds tighter, no parens)
    disjunction = hst.lists(conj_chain, min_size=2, max_size=2).map(" OR ".join)
    return hst.one_of(conj_chain, disjunction)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(where=_predicate())
def test_decode_where_matches_duckdb_any_predicate(spark, multi_block, where):
    from d6tstack_spark.operators.encode import decode_where

    src, bdir, man = multi_block
    got = sorted(
        r.k for r in decode_where(spark, bdir, man, where).select("k").collect()
    )
    want = sorted(
        r[0]
        for r in _dd_con().sql(
            f"SELECT k FROM read_parquet('{src}') WHERE {where}"
        ).fetchall()
    )
    assert got == want, f"row-set mismatch for WHERE {where}"


def test_backslash_literal_prunes_on_unescaped_value(spark):
    """Spark's parser unescapes backslash sequences inside string
    literals ('a\\tb' compares against a TAB); the zone DNF carries the
    value Catalyst resolved, so it prunes on the TAB, and an escaped
    quote stays inside its literal instead of splitting conjuncts."""
    from d6tstack_spark.operators.encode import compile_where

    man = {"grp": {"ptype": "str", "logical": None},
           "k": {"ptype": "i64", "logical": None}}
    assert compile_where(spark, r"grp = 'a\tb'", man).dnf == [
        [("grp", "a\tb", "a\tb")],
    ]
    assert compile_where(
        spark, r"grp = 'a\' AND k > 5' OR k < 0", man
    ).dnf == [[("grp", "a' AND k > 5", "a' AND k > 5")], [("k", None, -1)]]


def test_decode_where_backslash_escape_end_to_end(spark, tmp_path):
    """Rows whose text contains a real TAB must survive decode_where with
    a '\\t' escape literal (Spark unescapes it; zone pruning must not
    exclude the block)."""
    from d6tstack_spark.operators.encode import decode_where, encode_parquet_files
    from d6tstack_spark.operators.sinks import write_blocks

    tbl = pa.table(
        {
            "k": pa.array(np.arange(100, dtype=np.int64)),
            "msg": pa.array(
                ["a\tb" if i == 37 else f"m{i:03d}" for i in range(100)]
            ),
        }
    )
    src = str(tmp_path / "bs.parquet")
    pq.write_table(tbl, src, row_group_size=25)
    blocks, man = encode_parquet_files(
        spark, src, order_cols=("k",), row_groups_per_split=1
    )
    bdir = str(tmp_path / "bs_blocks")
    write_blocks(blocks, bdir)
    got = decode_where(spark, bdir, man, r"msg = 'a\tb'").collect()
    assert [r.k for r in got] == [37]


def test_decode_where_case_insensitive_referenced_column(spark, multi_block):
    """Spark resolves columns case-insensitively; the projection scan that
    pulls predicate columns into the decode must match 'K > 19990' to the
    manifest's lowercase k."""
    from d6tstack_spark.operators.encode import decode_where

    src, bdir, man = multi_block
    got = decode_where(spark, bdir, man, "K > 19990", columns=["grp"])
    assert got.columns == ["grp"]
    assert got.count() == 9
