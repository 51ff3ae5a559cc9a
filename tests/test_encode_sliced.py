"""Slice-parallel encode + exchange-free decode (operators/encode_sliced.py).

Round-6 optimization: the gate's single-file tables parallelize at row-group
granularity on the classic paths; the sliced planner sub-splits row groups
up to the requested task count and the local decoder skips the block_id
repartition. These tests pin (a) value+schema equivalence with the classic
encode_table→decode_table round trip, (b) planner degradation to one slice
per row group when splits already cover the task budget, and (c) the
zero-exchange plan shape of the fused round trip.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events_path(sf_dir):
    return f"{sf_dir}/events.parquet"


def test_sliced_roundtrip_equals_classic(spark, events_path):
    from d6tstack_spark.operators.encode import (
        build_manifest,
        decode_table,
        encode_table,
    )
    from d6tstack_spark.operators.encode_sliced import (
        decode_blocks_local,
        encode_parquet_files_sliced,
    )

    df = spark.read.parquet(events_path)
    blocks_old, man_old = encode_table(df, order_cols=("event_id",))
    old = decode_table(blocks_old, man_old)
    blocks_new, man_new = encode_parquet_files_sliced(
        spark, events_path, order_cols=("event_id",), target_tasks=7
    )
    new = decode_blocks_local(blocks_new, man_new)
    assert new.schema == old.schema
    assert new.exceptAll(old).isEmpty()
    assert old.exceptAll(new).isEmpty()


def test_fused_roundtrip_equals_classic(spark, events_path):
    """The single-stage fused round trip (encode blocks handed straight to
    the decoder in-task) must match the classic two-step path bit for bit
    — schema and multiset."""
    from d6tstack_spark.operators.encode import (
        decode_table,
        encode_table,
    )
    from d6tstack_spark.operators.encode_sliced import (
        roundtrip_parquet_files_sliced,
    )

    df = spark.read.parquet(events_path)
    blocks_old, man_old = encode_table(df, order_cols=("event_id",))
    old = decode_table(blocks_old, man_old)
    new = roundtrip_parquet_files_sliced(
        spark, events_path, order_cols=("event_id",), target_tasks=5,
        min_rows_per_slice=50,
    )
    assert new.schema == old.schema
    assert new.exceptAll(old).isEmpty()
    assert old.exceptAll(new).isEmpty()
    _assert_range_sourced(new)


def _assert_range_sourced(df):
    """The plan reads its tasks from ``spark.range``: no Python-RDD
    source (``ExistingRDD``) and no exchange of any kind."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Range (" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize("n_rows, n_tasks", [(10, 3), (4, 4), (3, 7), (0, 2)])
def test_map_slices_contiguous_slices(spark, n_rows, n_tasks):
    """Task ``k`` calls ``fn`` once, with exactly ``rows[cut[k]:cut[k+1]]``
    under the row schema — an empty slice when tasks outnumber rows."""
    import pyarrow as pa

    from pyspark import TaskContext

    from d6tstack_spark.operators.encode import map_slices

    rows = [(i, f"r{i}", [f"c{i}"] * (i % 3)) for i in range(n_rows)]

    def fn(batches):
        (b,) = list(batches)
        assert b.schema.names == ["i", "name", "cols"]
        got = [tuple(r.values()) for r in b.to_pylist()]
        yield pa.RecordBatch.from_pydict(
            {"task": [TaskContext.get().partitionId()], "rows": [repr(got)]}
        )

    df = map_slices(
        spark, rows, n_tasks, fn, "task long, rows string",
        "i int, name string, cols array<string>",
    )
    _assert_range_sourced(df)
    got = sorted((r["task"], r["rows"]) for r in df.collect())
    cut = [n_rows * k // n_tasks for k in range(n_tasks + 1)]
    assert got == [(k, repr(rows[cut[k] : cut[k + 1]])) for k in range(n_tasks)]


def test_sliced_parallelism_and_block_count(spark, events_path):
    import pyarrow.parquet as pq

    from d6tstack_spark.operators.encode_sliced import (
        decode_blocks_local,
        encode_parquet_files_sliced,
        plan_parquet_slices,
    )

    n_rows = pq.ParquetFile(events_path).metadata.num_rows
    target = 6
    slices = plan_parquet_slices(
        [events_path], target, min_rows_per_slice=50
    )
    assert len(slices) >= target  # sub-row-group slicing kicked in
    starts = sorted((s[2], s[3]) for s in slices)
    assert starts[0][1] == 0  # slices tile the row group from the start
    assert sum(s[4] for s in slices) == n_rows  # slices tile exactly
    blocks, man = encode_parquet_files_sliced(
        spark, events_path, order_cols=("event_id",), target_tasks=target,
        min_rows_per_slice=50,
    )
    bids = blocks.select("block_id").distinct().count()
    assert bids >= target  # decode has >= target distinct blocks to spread
    assert decode_blocks_local(blocks, man).count() == n_rows


def test_planner_degrades_to_row_groups(tmp_path, spark):
    """With row groups >= target_tasks the planner emits exactly one slice
    per row group — the classic fused split plan, zero redundancy."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from d6tstack_spark.operators.encode_sliced import plan_parquet_slices

    p = str(tmp_path / "many_rg.parquet")
    t = pa.table({"x": list(range(1000))})
    pq.write_table(t, p, row_group_size=100)  # 10 row groups
    slices = plan_parquet_slices([p], target_tasks=8)
    assert len(slices) == 10
    assert all(s[3] == 0 and s[5] == 0 for s in slices)  # start=0, slice=0


def test_roundtrip_plan_has_no_exchange(spark, events_path):
    from d6tstack_spark.operators.encode_sliced import (
        decode_blocks_local,
        encode_parquet_files_sliced,
    )

    blocks, man = encode_parquet_files_sliced(
        spark, events_path, order_cols=("event_id",), target_tasks=4
    )
    dec = decode_blocks_local(blocks, man)
    plan = dec._jdf.queryExecution().executedPlan().toString()
    # the only exchange allowed is the round-robin spread of the tiny
    # driver-built slice table; the payload pipeline itself
    # (read→encode→decode) must be exchange-free — no hash repartition of
    # blocks, unlike decode_table's repartition("block_id")
    assert "Exchange hashpartitioning" not in plan


def test_decode_local_rejects_split_blocks(spark, events_path):
    """The completeness invariant survives: if a block's column rows are
    scattered across partitions, decode_blocks_local raises instead of
    silently dropping rows."""
    from d6tstack_spark.operators.encode_sliced import (
        decode_blocks_local,
        encode_parquet_files_sliced,
    )

    blocks, man = encode_parquet_files_sliced(
        spark, events_path, order_cols=("event_id",), target_tasks=4
    )
    scattered = blocks.repartition(8)  # round-robin splits block row groups
    with pytest.raises(Exception, match="incomplete blocks"):
        decode_blocks_local(scattered, man).count()
