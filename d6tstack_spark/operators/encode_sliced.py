"""Slice-parallel scan-fused encode + exchange-free decode (round 6).

Why this exists (guide §2.2/§2.4, measured in OPTIMIZATION_r06.md): the
scan-fused encoder (:func:`operators.encode.encode_parquet_files`) and the
DataFrame-path :func:`operators.encode.encode_table` both parallelize at
parquet *row-group* granularity — a Spark byte-range split below a row
group is a no-op reader. The gate tables are single files with 1-6 row
groups, so on a 32-core cluster the whole encode ran on 1-6 tasks and the
decode behind ``repartition("block_id")`` had 1-6 distinct blocks to
spread. This module fixes both ends without shuffling the raw data:

- :func:`plan_parquet_slices` plans SUB-row-group slices only when the
  natural (file, row-group) split count is below the requested task count.
  Each task re-reads its row group (pyarrow, one-time redundancy bounded
  by slices-per-row-group; the bytes are page-cache resident after the
  first pass) and encodes only its row slice. At production scale —
  thousands of files / row groups — the planner degrades to exactly one
  slice per row group, i.e. the existing fused path with zero redundancy,
  so this is scale-adaptive, not a local[32] tune.

- :func:`decode_blocks_local` decodes encoder output WITHOUT the
  ``repartition("block_id")`` exchange that the generic
  :func:`operators.encode.decode_table` pays: every encoder task emits
  whole blocks (all columns of a block in one batch), so blocks are
  complete per partition by construction and the stream decoder's
  buffer-until-complete logic never waits across partitions.

Together: encode→decode is ONE zero-exchange stage at input parallelism.
Block ids embed (file_idx, row_group, slice) and stay deterministic under
retries. Decoded output is value-identical to the classic path (same
kernels, same manifest semantics); only block boundaries differ.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame

from d6tstack_spark.operators.encode import (
    BLOCKS_SCHEMA,
    _BLOCKS_ARROW,
    _encode_one_block,
    _logical_struct,
    _make_decoder,
    build_manifest_arrow,
    map_slices,
)

# block id layout: ((file_idx << 24 | row_group) << 10 | slice) << 8 (sub
# splits, applied inside _encode_one_block). 24+10+8 bits of structure
# leaves 21 bits of file index — ample, and callers never parse these ids.
_SLICE_BITS = 10


def plan_parquet_slices(
    paths: list[str],
    target_tasks: int,
    min_rows_per_slice: int = 4096,
) -> list[tuple]:
    """Driver-side slice planning from parquet footers: deterministic
    (sorted paths), one slice = a row range of one row group. Row groups
    are sub-sliced only while the total split count is below
    ``target_tasks`` — with enough row groups this returns exactly the
    (file, row-group) splits of the classic fused planner."""
    import pyarrow.parquet as pq

    rgs = []
    for fi, p in enumerate(sorted(paths)):
        md = pq.ParquetFile(p).metadata
        for rg in range(md.num_row_groups):
            rgs.append((fi, p, rg, md.row_group(rg).num_rows))
    if not rgs:
        return []
    # floor division: N slices <= target_tasks means ONE task wave — a
    # ceil here made 6 row groups x 6 slices = 36 tasks on 32 cores, and
    # the 4-task second wave cost a full task latency. The cap bounds the
    # per-row-group read redundancy (each slice re-reads its row group):
    # past ~16x the redundant decompress outweighs the extra parallelism
    # (measured: a 1-row-group table was fastest at 16 slices, slower at
    # 32 and 64).
    per_rg = max(1, target_tasks // len(rgs))
    per_rg = min(per_rg, 16, 1 << _SLICE_BITS)
    slices = []
    for fi, p, rg, nrows in rgs:
        k = min(per_rg, max(1, nrows // min_rows_per_slice))
        step = -(-nrows // k) if nrows else 1
        si = 0
        for start in range(0, max(nrows, 1), max(step, 1)):
            n = min(step, nrows - start) if nrows else 0
            slices.append((fi, p, rg, start, n, si))
            si += 1
            if nrows == 0:
                break
    return slices


def build_shared_fsst_tables_sampled(
    paths: list[str], manifest: dict, sample_rows: int = 16384
) -> dict[str, list[bytes]]:
    """Same contract as :func:`operators.encode.build_shared_fsst_tables`
    (pass 0 of shared-table FSST: deterministic sample = the first
    ``sample_rows`` rows of the first sorted path) but reads only the
    sample via ``iter_batches`` instead of materializing the whole first
    row group on the driver — the classic builder spent driver wall time
    proportional to row-group size inside the timed query."""
    import pyarrow.parquet as pq

    from d6tstack_spark.codecs.kernels import build_fsst_table

    str_cols = [n for n, m in manifest.items() if m["ptype"] in ("str", "bin")]
    if not str_cols:
        return {}
    f = pq.ParquetFile(sorted(paths)[0])
    present = [c for c in str_cols if c in f.schema_arrow.names]
    if f.metadata.num_row_groups == 0 or not present:
        return {}
    batches, got = [], 0
    for b in f.iter_batches(
        batch_size=sample_rows, columns=present, use_threads=False
    ):
        batches.append(b)
        got += b.num_rows
        if got >= sample_rows:
            break
    t = pa.Table.from_batches(batches)
    out: dict[str, list[bytes]] = {}
    for c in present:
        arr = t.column(c).combine_chunks().drop_null().cast(pa.binary())
        tbl = build_fsst_table(arr.slice(0, sample_rows))
        if tbl:
            out[c] = tbl
    return out


def _make_slice_encoder(
    manifest: dict,
    codec_overrides: dict | None,
    order_cols: tuple[str, ...],
    shared_tables: dict | None,
):
    codec_overrides = codec_overrides or {}
    sort_keys = [(c, "ascending") for c in order_cols if c in manifest]

    def fused(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        pa.set_cpu_count(1)  # the workers ARE the parallelism
        pa.set_io_thread_count(1)
        files: dict[str, pq.ParquetFile] = {}
        for b in batches:
            for row in b.to_pylist():
                f = files.get(row["path"])
                if f is None:
                    f = files.setdefault(row["path"], pq.ParquetFile(row["path"]))
                t = f.read_row_group(row["rg"], use_threads=False)
                t = t.slice(row["start"], row["nrows"])
                if sort_keys:
                    sk = [s for s in sort_keys if s[0] in t.column_names]
                    if sk:
                        t = t.sort_by(sk)
                cols = {}
                for name, m in manifest.items():
                    if name not in t.column_names:
                        from d6tstack_spark.operators.encode import (
                            _null_arrow_type,
                        )

                        cols[name] = pa.nulls(len(t), type=_null_arrow_type(m))
                        continue
                    arr = t.column(name)
                    if m["logical"] in ("ts", "ts_ntz"):
                        tz = arr.type.tz if hasattr(arr.type, "tz") else None
                        arr = arr.cast(pa.timestamp("us", tz=tz)).cast(pa.int64())
                    elif m["logical"] == "date":
                        arr = arr.cast(pa.date32()).cast(pa.int32())
                    elif m["logical"] == "bool":
                        arr = arr.cast(pa.int8())
                    cols[name] = arr
                base = (
                    ((int(row["file_idx"]) << 24) | int(row["rg"]))
                    << _SLICE_BITS
                ) | int(row["slice"])
                rows = _encode_one_block(
                    pa.table(cols), base, manifest, codec_overrides, None,
                    shared_tables,
                )
                out = {k: [r[k] for r in rows] for k in _BLOCKS_ARROW.names}
                yield pa.RecordBatch.from_pydict(out, schema=_BLOCKS_ARROW)

    return fused


def encode_parquet_files_sliced(
    spark,
    paths: list[str] | str,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    codec_overrides: dict | None = None,
    target_tasks: int | None = None,
    min_rows_per_slice: int = 4096,
) -> tuple[DataFrame, dict]:
    """Scan-fused encode at full cluster parallelism even for few-row-group
    inputs. Returns ``(blocks_df, manifest)`` exactly like
    :func:`operators.encode.encode_parquet_files`; pair with
    :func:`decode_blocks_local` for a zero-exchange round trip, or with the
    generic ``decode_table`` (whose block_id repartition also spreads fine,
    since there are now >= target_tasks distinct blocks)."""
    import pyarrow.parquet as pq

    if isinstance(paths, str):
        paths = [paths]
    manifest = build_manifest_arrow(pq.read_schema(paths[0]))
    shared = build_shared_fsst_tables_sampled(paths, manifest)
    if target_tasks is None:
        target_tasks = spark.sparkContext.defaultParallelism * 2
    slices = plan_parquet_slices(paths, target_tasks, min_rows_per_slice)
    sdf = spark.createDataFrame(
        slices,
        "file_idx int, path string, rg int, start long, nrows long, slice int",
    )
    blocks = sdf.repartition(len(slices)).mapInArrow(
        _make_slice_encoder(manifest, codec_overrides, order_cols, shared),
        BLOCKS_SCHEMA,
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
    encoder's block rows are handed straight to the block decoder
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
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from d6tstack_spark.operators.encode import _decode_one_block

    if isinstance(paths, str):
        paths = [paths]
    manifest = build_manifest_arrow(pq.read_schema(paths[0]))
    shared = (
        build_shared_fsst_tables_sampled(paths, manifest)
        if shared_fsst
        else None
    )
    if target_tasks is None:
        target_tasks = spark.sparkContext.defaultParallelism
    slices = plan_parquet_slices(paths, target_tasks, min_rows_per_slice)
    encode_fn = _make_slice_encoder(manifest, codec_overrides, order_cols, shared)
    out_struct = _logical_struct(manifest)
    # decode output may carry e.g. large_string chunks: the cast pins the
    # exact Arrow types the Spark schema declares
    out_schema = to_arrow_schema(out_struct)

    def fused(batches):
        for block_batch in encode_fn(batches):
            rows = block_batch.to_pylist()
            by_block: dict[int, list[dict]] = {}
            for r in rows:
                by_block.setdefault(r["block_id"], []).append(r)
            for bid in sorted(by_block):
                tbl = _decode_one_block(by_block[bid], manifest)
                for b in tbl.cast(out_schema).to_batches(max_chunksize=65536):
                    yield b

    return map_slices(
        spark, slices, len(slices), fused, out_struct,
        "file_idx int, path string, rg int, start long, nrows long, slice int",
    )


def decode_blocks_local(blocks: DataFrame, manifest: dict) -> DataFrame:
    """Decode a blocks DataFrame whose partitions each contain only WHOLE
    blocks (true for every encoder in this package: a block's column rows
    are emitted in one batch by one task). Skips decode_table's
    ``repartition("block_id")`` exchange — the stream decoder buffers rows
    per block_id within the partition and flushes on completeness, so
    co-partitioned complete blocks decode in a single zero-shuffle stage.
    The completeness invariant is still enforced: a split block raises the
    same "incomplete blocks at decode" error it would on the generic
    path."""
    return blocks.mapInArrow(_make_decoder(manifest), _logical_struct(manifest))
