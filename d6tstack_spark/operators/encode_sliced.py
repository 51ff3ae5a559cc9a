"""Slice-parallel scan encode and exchange-free decode: thin wrappers over
the one scan planner, scan encoder and block decoder of
:mod:`operators.encode`.

A Spark byte-range split below a parquet row group is a no-op reader, so a
scan planned at row-group granularity runs a single-file table with 1-6
row groups on 1-6 tasks. The wrappers here ask the planner
(:func:`operators.encode.plan_parquet_splits`) for ``target_tasks``: it
then cuts row groups into row slices, each task re-reads its row group
and encodes only its slice (one block per slice). With enough row groups
the plan is one slice per row group, the plain scan plan.

Every encode task emits whole blocks, so a task's output decodes in
place: :func:`decode_blocks_local` skips the ``repartition("block_id")``
exchange of :func:`operators.encode.decode_table`, and
:func:`roundtrip_parquet_files_sliced` pipes each slice's blocks straight
into the decoder — encode→decode is one zero-exchange stage. A sliced
block id carries its slice above the row group; decoded output is
value-identical to the unsliced path, only block boundaries differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from d6tstack_spark.operators.encode import (
    BLOCKS_SCHEMA,
    _SPLIT_DDL,
    _logical_struct,
    _make_decoder,
    _make_scan_encoder,
    _union_input_manifest,
    build_shared_fsst_tables,
    map_slices,
    plan_parquet_splits,
)


def plan_parquet_slices(
    paths: list[str],
    target_tasks: int,
    min_rows_per_slice: int = 4096,
) -> list[tuple]:
    """:func:`operators.encode.plan_parquet_splits` with one row group
    per split, sub-sliced up to ``target_tasks``."""
    return plan_parquet_splits(
        paths, 1, target_tasks=target_tasks,
        min_rows_per_slice=min_rows_per_slice,
    )


def encode_parquet_files_sliced(
    spark,
    paths: list[str] | str,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    codec_overrides: dict | None = None,
    target_tasks: int | None = None,
    min_rows_per_slice: int = 4096,
) -> tuple[DataFrame, dict]:
    """Scan-fused encode at full cluster parallelism even for few-row-group
    inputs: one task per slice of :func:`plan_parquet_slices` (default
    ``target_tasks`` = 2 per core). Returns ``(blocks_df, manifest)``
    exactly like :func:`operators.encode.encode_parquet_files`; pair with
    :func:`decode_blocks_local` for a zero-exchange round trip, or with the
    generic ``decode_table``."""
    if isinstance(paths, str):
        paths = [paths]
    manifest = _union_input_manifest(paths)
    shared = build_shared_fsst_tables(paths, manifest)
    if target_tasks is None:
        target_tasks = spark.sparkContext.defaultParallelism * 2
    slices = plan_parquet_slices(paths, target_tasks, min_rows_per_slice)
    enc = _make_scan_encoder(
        manifest, codec_overrides, order_cols, shared_tables=shared
    )
    blocks = map_slices(
        spark, slices, len(slices), enc, BLOCKS_SCHEMA, _SPLIT_DDL
    )
    return blocks, manifest


def roundtrip_parquet_files_sliced(
    spark,
    paths: list[str] | str,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    codec_overrides: dict | None = None,
    target_tasks: int | None = None,
    min_rows_per_slice: int = 4096,
    shared_fsst: bool = False,
) -> DataFrame:
    """Encode→decode round trip fused into ONE map task per slice: the
    encoder's blocks batches go straight into the block decoder
    in-process, so the blocks never cross the Python↔JVM boundary and the
    whole pipeline is a single stage with two fewer serialization hops
    than encode+decode as separate maps. The tasks come from
    :func:`operators.encode.map_slices` (a ``spark.range`` source, one
    slice per task), so the stage starts no Python-RDD worker and its
    only Python hop is the fused map itself. Every byte still runs the full
    encode and decode kernels — this is operator pipelining, not a
    shortcut. ``shared_fsst`` defaults off here: on the gate tables the
    shared-table attempt always falls back (drifting content; measured
    identical enc_bytes with and without), so the sample build and the
    per-block index_in pass are pure overhead — pass True for corpora
    like transcripts where the shared table sticks."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(paths, str):
        paths = [paths]
    manifest = _union_input_manifest(paths)
    shared = build_shared_fsst_tables(paths, manifest) if shared_fsst else None
    if target_tasks is None:
        target_tasks = spark.sparkContext.defaultParallelism
    slices = plan_parquet_slices(paths, target_tasks, min_rows_per_slice)
    encode_fn = _make_scan_encoder(
        manifest, codec_overrides, order_cols, shared_tables=shared
    )
    decode_fn = _make_decoder(manifest)
    out_struct = _logical_struct(manifest)
    # decode output may carry e.g. large_string chunks: the cast pins the
    # exact Arrow types the Spark schema declares
    out_schema = to_arrow_schema(out_struct)

    def fused(batches):
        for b in decode_fn(encode_fn(batches)):
            yield b.cast(out_schema)

    return map_slices(spark, slices, len(slices), fused, out_struct, _SPLIT_DDL)


def decode_blocks_local(blocks: DataFrame, manifest: dict) -> DataFrame:
    """Decode a blocks DataFrame whose partitions each contain only WHOLE
    blocks (true for every encoder in this package: a block's column rows
    are emitted in one batch by one task). Skips decode_table's
    ``repartition("block_id")`` exchange: the block decoder
    (:func:`operators.encode._make_decoder`) groups each batch's rows by
    block_id and decodes a block once its rows are all in, so
    co-partitioned complete blocks decode in a single zero-shuffle stage.
    The completeness invariant is still enforced: a split block raises the
    same "incomplete blocks at decode" error it would on the generic
    path."""
    return blocks.mapInArrow(_make_decoder(manifest), _logical_struct(manifest))
