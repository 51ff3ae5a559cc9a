"""The one scan planner, scan encoder and block decoder
(operators/encode.py).

Pins (a) the scan manifest over every input file: a column only a later
file has comes back null for the earlier rows, and a type conflict raises
before any job; (b) the planner's split tuples and base block ids, with and
without ``target_tasks``; (c) the two planning hooks ``encode_resume`` calls
through the ``checkpoint`` module's globals, once each; (d) the block
decoder's grouping: interleaved blocks and blocks straddling batch
boundaries decode as in encoder order, evolved columns null-padded.
"""

from __future__ import annotations

import collections
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import spark_jobs


def _write(path, tbl, row_group_size=None):
    pq.write_table(tbl, path, row_group_size=row_group_size)
    return str(path)


@pytest.fixture()
def evolving_inputs(tmp_path):
    """Two files; the second adds column ``b``."""
    f1 = _write(
        tmp_path / "in1.parquet",
        pa.table({"k": pa.array(range(0, 300), pa.int64()),
                  "a": [f"x{i % 5}" for i in range(300)]}),
    )
    f2 = _write(
        tmp_path / "in2.parquet",
        pa.table({"k": pa.array(range(300, 500), pa.int64()),
                  "a": [f"y{i % 3}" for i in range(200)],
                  "b": pa.array([i * 7 for i in range(200)], pa.int64())}),
    )
    return [f1, f2]


def _check_evolved(rows):
    rows = sorted(rows, key=lambda r: r["k"])
    assert [r["k"] for r in rows] == list(range(500))
    assert all(r["b"] is None for r in rows[:300])
    assert [r["b"] for r in rows[300:]] == [i * 7 for i in range(200)]
    assert [r["a"] for r in rows[300:]] == [f"y{i % 3}" for i in range(200)]


def test_scan_entry_points_union_manifest(spark, evolving_inputs):
    """Every scan entry point builds its manifest from ALL inputs: the
    column only the later file has comes back, null for the first file's
    rows."""
    from d6tstack_spark.operators.encode import (
        decode_table,
        encode_parquet_files,
    )
    from d6tstack_spark.operators.encode_sliced import (
        decode_blocks_local,
        encode_parquet_files_sliced,
        roundtrip_parquet_files_sliced,
    )

    blocks, man = encode_parquet_files(
        spark, evolving_inputs, order_cols=("k",)
    )
    assert list(man) == ["k", "a", "b"]
    _check_evolved(decode_table(blocks, man).collect())
    blocks, man = encode_parquet_files_sliced(
        spark, evolving_inputs, order_cols=("k",), target_tasks=4,
        min_rows_per_slice=50,
    )
    _check_evolved(decode_blocks_local(blocks, man).collect())
    _check_evolved(
        roundtrip_parquet_files_sliced(
            spark, evolving_inputs, order_cols=("k",), target_tasks=4,
            min_rows_per_slice=50,
        ).collect()
    )


def test_scan_type_conflict_raises_before_any_job(spark, tmp_path):
    """int32 in one file and int64 in the other used to decode 2**40 as
    0; now every scan entry point refuses, naming the column, before a
    Spark job runs."""
    from d6tstack_spark.operators.encode import encode_parquet_files
    from d6tstack_spark.operators.encode_sliced import (
        encode_parquet_files_sliced,
        roundtrip_parquet_files_sliced,
    )

    f1 = _write(tmp_path / "c1.parquet",
                pa.table({"v": pa.array([1, 2], pa.int32())}))
    f2 = _write(tmp_path / "c2.parquet",
                pa.table({"v": pa.array([2**40, 3], pa.int64())}))
    for fn in (encode_parquet_files, encode_parquet_files_sliced,
               roundtrip_parquet_files_sliced):
        def run(fn=fn):
            with pytest.raises(ValueError, match="'v'"):
                fn(spark, [f1, f2], order_cols=("v",))

        _, jobs = spark_jobs(spark, run)
        assert jobs == 0, fn.__name__


@pytest.fixture()
def five_rg_inputs(tmp_path):
    """Two files, five row groups: 3 × 100 rows and 2 × 80 rows."""
    f1 = _write(
        tmp_path / "p1.parquet",
        pa.table({"k": pa.array(range(300), pa.int64()),
                  "s": [f"s{i % 9}" for i in range(300)]}),
        row_group_size=100,
    )
    f2 = _write(
        tmp_path / "p2.parquet",
        pa.table({"k": pa.array(range(300, 460), pa.int64()),
                  "s": [f"t{i % 4}" for i in range(160)]}),
        row_group_size=80,
    )
    return [f1, f2]


def test_planner_base_ids(five_rg_inputs):
    from d6tstack_spark.operators.encode import plan_parquet_splits

    f1, f2 = five_rg_inputs
    fmap = {f1: 7, f2: 3}
    splits = plan_parquet_splits(five_rg_inputs, 2, file_indices=fmap)
    # (file_idx, path, rg, start, nrows, slice, nrg)
    assert splits == [
        (7, f1, 0, 0, 200, 0, 2),
        (7, f1, 2, 0, 100, 0, 1),
        (3, f2, 0, 0, 160, 0, 2),
    ]
    base = [s[0] << 32 | s[5] << 22 | s[2] for s in splits]
    assert base == [7 << 32 | 0, 7 << 32 | 2, 3 << 32 | 0]


def test_planner_slices_tile_row_groups(five_rg_inputs):
    from d6tstack_spark.operators.encode import plan_parquet_splits

    splits = plan_parquet_splits(
        five_rg_inputs, 1, target_tasks=17, min_rows_per_slice=10
    )
    assert len(splits) == 15  # 17 // 5 = 3 slices per row group
    by_rg = collections.defaultdict(list)
    for fi, p, rg, start, n, k, nrg in splits:
        assert nrg == 1
        by_rg[(p, rg)].append((start, n, k))
    for (p, rg), parts in by_rg.items():
        want = pq.ParquetFile(p).metadata.row_group(rg).num_rows
        pos = 0
        for i, (start, n, k) in enumerate(sorted(parts)):
            assert (start, k) == (pos, i)
            pos += n
        assert pos == want
    ids = [s[0] << 32 | s[5] << 22 | s[2] for s in splits]
    assert len(set(ids)) == len(ids)


def test_encode_resume_calls_planning_hooks_once(
    spark, five_rg_inputs, tmp_path, monkeypatch
):
    """The benchmark times the planner and the FSST builder by replacing
    them on the ``checkpoint`` module; ``encode_resume`` must call each
    exactly once through those globals. Its blocks carry the base ids
    ``file_idx << 32 | rg``."""
    from d6tstack_spark.operators.encode import SUB_BLOCK_BITS
    from d6tstack_spark.plans import checkpoint

    calls = collections.Counter()

    def wrap(name):
        orig = getattr(checkpoint, name)

        def counted(*args, **kwargs):
            calls[name] += 1
            return orig(*args, **kwargs)

        monkeypatch.setattr(checkpoint, name, counted)

    wrap("plan_parquet_splits")
    wrap("build_shared_fsst_tables")
    state = str(tmp_path / "state")
    summary = checkpoint.encode_resume(
        spark, five_rg_inputs, state, row_groups_per_split=2
    )
    assert calls == {"plan_parquet_splits": 1, "build_shared_fsst_tables": 1}
    assert summary["encoded"] == 3
    got = {
        bid >> SUB_BLOCK_BITS
        for bid in pq.read_table(
            os.path.join(state, "blocks"), columns=["block_id"]
        ).column("block_id").to_pylist()
    }
    assert got == {0 << 32 | 0, 0 << 32 | 2, 1 << 32 | 0}
    dec = checkpoint.decode_state(spark, state).toArrow()
    assert sorted(dec.column("k").to_pylist()) == list(range(460))


# ---------------------------------------------------------------------------
# block decoder grouping
# ---------------------------------------------------------------------------


def _grouping_blocks():
    """Three blocks of a k/s/e table: blocks 1 and 2 were written before
    column ``e`` existed, block 3 after. Returns (manifest with ``e``
    evolved, encoder-order blocks table, expected rows)."""
    from d6tstack_spark.operators.encode import (
        _encode_one_block,
        build_manifest_arrow,
    )

    src = pa.table({
        "k": pa.array(range(300), pa.int64()),
        "s": [f"v{i % 7}" for i in range(300)],
        "e": pa.array([i * 10 for i in range(300)], pa.int64()),
    })
    man = build_manifest_arrow(src.schema)
    old = {c: man[c] for c in ("k", "s")}
    batches = [
        _encode_one_block(src.slice(0, 100).select(["k", "s"]), 1, old, {}),
        _encode_one_block(src.slice(100, 100).select(["k", "s"]), 2, old, {}),
        _encode_one_block(src.slice(200, 100), 3, man, {}),
    ]
    man["e"] = {**man["e"], "evolved": True}
    expect = [
        {"k": i, "s": f"v{i % 7}", "e": i * 10 if i >= 200 else None}
        for i in range(300)
    ]
    return man, pa.Table.from_batches(batches), expect


def _interleave(blocks: pa.Table) -> pa.Table:
    """Rows of blocks 1 and 3 alternate, then block 2's."""
    ids = blocks.column("block_id").to_pylist()
    one = [i for i, b in enumerate(ids) if b >> 8 == 1]
    three = [i for i, b in enumerate(ids) if b >> 8 == 3]
    mixed = [i for pair in zip(three, one) for i in pair]
    mixed += three[len(one):] + one[len(three):]
    mixed += [i for i, b in enumerate(ids) if b >> 8 == 2]
    return blocks.take(pa.array(mixed))


def _rows(tbl):
    return sorted(tbl.to_pylist(), key=lambda r: r["k"])


def test_decoder_groups_interleaved_and_straddling_blocks():
    """In-process: every block is cut across batches of two rows and
    blocks 1 and 3 interleave."""
    from d6tstack_spark.operators.encode import _make_decoder

    man, blocks, expect = _grouping_blocks()
    for tbl in (blocks, _interleave(blocks)):
        out = _make_decoder(man)(iter(tbl.to_batches(max_chunksize=2)))
        assert _rows(pa.Table.from_batches(list(out))) == expect


def test_decode_paths_group_interleaved_blocks(spark, tmp_path):
    """A blocks file written with pyarrow, blocks interleaved and cut
    across row groups (the bulk decoder's batches) and across Arrow
    batches of three rows (Spark's), decodes to the rows of the
    encoder-order file, the pre-evolution blocks null-padded."""
    from d6tstack_spark.operators.encode import (
        decode_parquet_blocks,
        decode_table,
    )
    from d6tstack_spark.operators.encode_sliced import decode_blocks_local

    man, blocks, expect = _grouping_blocks()
    dirs = {}
    for name, tbl in (("ordered", blocks), ("mixed", _interleave(blocks))):
        d = tmp_path / name
        d.mkdir()
        _write(d / "part-0.parquet", tbl, row_group_size=2)
        dirs[name] = str(d)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        for d in dirs.values():
            got = decode_parquet_blocks(spark, d, man).toArrow()
            assert _rows(got) == expect
            sdf = spark.read.parquet(d)
            assert _rows(decode_table(sdf, man).toArrow()) == expect
            assert _rows(decode_blocks_local(sdf, man).toArrow()) == expect
    finally:
        spark.conf.set(key, prior)
