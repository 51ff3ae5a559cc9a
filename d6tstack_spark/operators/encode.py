"""Distributed per-column encode/decode over Spark — the engine core.

Pipeline (SURVEY.md §3.2 "Spark lifecycle equivalent" of d6tstack's
to_parquet_combine, reference combine_csv.py:459-504):

    assign block_id = pmod(xxhash64(bucket_col), B)·SALT_SPAN + salt
      (salt splits skewed bucket keys by order_col range — explicit skew
       handling; AQE skew-join does not cover mapInArrow stages)
    → repartition(B, block_id) · sortWithinPartitions(block_id, *order_cols)
      (the reference's deterministic np.sort file ordering, combine_csv.py:62,
       re-expressed as a stable per-block sort)
    → mapInArrow(encode): one pass, streaming per-block flush; per block:
      physicalize (ts→µs int64, date→days, bool→i8; Arrow casts in the
      task) → per column: sniff → auto-select codec → encode → block row
    → blocks DataFrame (binary payload + codec manifest columns)

Decode is the exact inverse; every column round-trips bit-identical
(null bitmaps, NaN payloads, µs timestamps). Encode stores timestamps as
int64 µs, cast from the Arrow batches Spark hands the task, so
pandas/Arrow never coerces them (SURVEY.md §7 "hard parts"); decode
hands the same µs back as Arrow ``timestamp[us]``, which Spark takes
without a conversion.

All heavy work is vectorized: Arrow batches in, numpy kernels inside, Arrow
batches out — no per-row Python (input_hint).
"""

from __future__ import annotations

import functools
import logging
import re
from contextlib import contextmanager
from typing import Iterator, NamedTuple

import numpy as np
import pyarrow as pa
from py4j.protocol import Py4JJavaError

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from d6tstack_spark.codecs.blocks import Block, decode_block, encode_block

SALT_SPAN = 4096  # max sub-blocks a skewed bucket can split into

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.LongType(), False),
        T.StructField("column", T.StringType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("params", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("null_count", T.LongType(), False),
        T.StructField("raw_bytes", T.LongType(), False),
        T.StructField("enc_bytes", T.LongType(), False),
        T.StructField("crc", T.LongType(), False),
        # zone map: conservative per-block value bounds (null = no stats).
        # Numerics (incl. ts/date/bool physicalized to ints) use the _num
        # pair widened by 1 ulp; strings/binary use the _str pair with a
        # parquet-style truncate-and-increment upper bound.
        T.StructField("vmin_num", T.DoubleType(), True),
        T.StructField("vmax_num", T.DoubleType(), True),
        T.StructField("vmin_str", T.BinaryType(), True),
        T.StructField("vmax_str", T.BinaryType(), True),
    ]
)

# the same schema on the Arrow side: what every encoder's batches carry
_BLOCKS_ARROW = to_arrow_schema(BLOCKS_SCHEMA)

# zone-map string bounds are capped (long text values would bloat the
# metadata table); the upper bound uses truncate-then-increment so it
# remains a true upper bound after the cut
_STAT_STR_CAP = 64


def _stat_upper_bytes(hi: bytes) -> bytes | None:
    """Parquet-style truncated upper bound: short values pass through
    UNCHANGED (this is NOT a prefix bound); longer ones increment the last
    non-0xFF byte of the 64-byte prefix; all-0xFF means unbounded (None)."""
    if len(hi) <= _STAT_STR_CAP:
        return hi
    return _prefix_upper_bytes(hi[:_STAT_STR_CAP])


def _prefix_upper_bytes(p: bytes) -> bytes | None:
    """Strict upper bound for EVERY byte string starting with prefix
    ``p``: increment the last non-0xFF byte and truncate after it
    (``b"g0"`` → ``b"g1"``; any ``"g0..."`` sorts below ``"g1"``).
    All-0xFF prefixes are unbounded above (None)."""
    for i in range(len(p) - 1, -1, -1):
        if p[i] != 0xFF:
            return p[:i] + bytes([p[i] + 1])
    return None


def _block_stats(arr: pa.Array, ptype: str) -> dict:
    """Conservative zone map of one block column — an optimization only:
    any failure or unsupported type degrades to null stats (= never
    pruned), so decode correctness cannot depend on it."""
    import math

    import pyarrow.compute as pc

    out = {"vmin_num": None, "vmax_num": None, "vmin_str": None, "vmax_str": None}
    try:
        if ptype in ("i8", "i16", "i32", "i64", "f32", "f64"):
            nn = arr.drop_null()
            if len(nn) == 0:
                return out
            mm = pc.min_max(nn)
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
            if lo is None or hi is None:
                return out
            flo, fhi = float(lo), float(hi)
            if math.isnan(flo) or math.isnan(fhi):
                # all-NaN block (min_max skips NaN like parquet stats do;
                # only an all-NaN column yields NaN bounds) — no stats
                return out
            # widen 1 ulp: int64 beyond 2^53 rounds in float64, and a
            # rounded-INWARD bound would wrongly prune boundary values
            out["vmin_num"] = float(np.nextafter(flo, -math.inf))
            out["vmax_num"] = float(np.nextafter(fhi, math.inf))
        elif ptype in ("str", "bin"):
            nn = arr.drop_null()
            if len(nn) == 0:
                return out
            mm = pc.min_max(nn)
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
            if lo is None or hi is None:
                return out
            if isinstance(lo, str):
                lo, hi = lo.encode(), hi.encode()
            out["vmin_str"] = lo[:_STAT_STR_CAP]
            out["vmax_str"] = _stat_upper_bytes(hi)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        pass
    return out

# ---------------------------------------------------------------------------
# schema physicalization
# ---------------------------------------------------------------------------

_PTYPE_OF_SPARK = {
    "string": "str",
    "binary": "bin",
    "tinyint": "i8",
    "smallint": "i16",
    "int": "i32",
    "bigint": "i64",
    "float": "f32",
    "double": "f64",
}

_PHYS_SPARK_TYPE = {
    "str": T.StringType(),
    "bin": T.BinaryType(),
    "i8": T.ByteType(),
    "i16": T.ShortType(),
    "i32": T.IntegerType(),
    "i64": T.LongType(),
    "f32": T.FloatType(),
    "f64": T.DoubleType(),
    "f32list": T.ArrayType(T.FloatType()),
    "f64list": T.ArrayType(T.DoubleType()),
}

_PHYS_ARROW_TYPE = {
    "str": pa.string(),
    "bin": pa.binary(),
    "i8": pa.int8(),
    "i16": pa.int16(),
    "i32": pa.int32(),
    "i64": pa.int64(),
    "f32": pa.float32(),
    "f64": pa.float64(),
    "f32list": pa.list_(pa.float32()),
    "f64list": pa.list_(pa.float64()),
}


def build_manifest(schema: T.StructType) -> dict:
    """Column → {ptype, logical} map. ``logical`` records how to restore the
    original Spark type after decode; ``ptype='any'`` means the column is
    carried through the Arrow-IPC fallback codec (nested types)."""
    manifest: dict[str, dict] = {}
    for f in schema.fields:
        s = f.dataType.simpleString()
        if s in _PTYPE_OF_SPARK:
            manifest[f.name] = {"ptype": _PTYPE_OF_SPARK[s], "logical": None}
        elif s == "array<float>":
            manifest[f.name] = {"ptype": "f32list", "logical": None}
        elif s == "array<double>":
            manifest[f.name] = {"ptype": "f64list", "logical": None}
        elif s == "timestamp":
            manifest[f.name] = {"ptype": "i64", "logical": "ts"}
        elif s == "timestamp_ntz":
            manifest[f.name] = {"ptype": "i64", "logical": "ts_ntz"}
        elif s == "date":
            manifest[f.name] = {"ptype": "i32", "logical": "date"}
        elif s == "boolean":
            manifest[f.name] = {"ptype": "i8", "logical": "bool"}
        else:
            manifest[f.name] = {"ptype": "any", "logical": s}
    return manifest


# ---------------------------------------------------------------------------
# block assignment (bucketing + skew salting)
# ---------------------------------------------------------------------------


def assign_block_ids(
    df: DataFrame,
    bucket_col: str,
    order_col: str,
    num_blocks: int,
    skew_max_rows: int | None = None,
) -> DataFrame:
    """Add ``__block_id``. Hot bucket keys (> skew_max_rows rows) are salted
    by ``floor(order_col / skew_max_rows)`` (an integer ``order_col``) so
    one conversation never pins a single task — the explicit skew
    discipline the north rule requires.

    The hot-key detection is a map-side-combinable count (cheap at any
    scale); the hot list is tiny by construction and ships as an isin()
    literal (broadcast-equivalent)."""
    bid = F.pmod(F.xxhash64(F.col(bucket_col)), F.lit(num_blocks))
    salt = F.lit(0)
    if skew_max_rows:
        hot = [
            r[0]
            for r in df.groupBy(bucket_col)
            .count()
            .filter(F.col("count") > skew_max_rows)
            .select(bucket_col)
            .collect()
        ]
        if hot:
            salt = F.when(
                F.col(bucket_col).isin(hot),
                F.pmod(
                    F.floor(F.col(order_col) / F.lit(skew_max_rows)),
                    F.lit(SALT_SPAN),
                ),
            ).otherwise(F.lit(0))
    return df.withColumn("__block_id", bid * SALT_SPAN + salt)


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------


def _extract_values(arr: pa.Array, ptype: str) -> tuple[np.ndarray, np.ndarray | None]:
    """Arrow array → (numpy values with nulls zero/None-filled, validity)."""
    import pyarrow.compute as pc

    valid = None
    if arr.null_count:
        valid = np.asarray(arr.is_valid())
    if ptype in ("str", "bin"):
        values = arr.cast(pa.binary()).to_numpy(zero_copy_only=False)
        if valid is not None:
            values = values.copy()
            values[~valid] = b""
        return values, valid
    fill = 0
    filled = pc.fill_null(arr, fill) if arr.null_count else arr
    return filled.to_numpy(zero_copy_only=False), valid


# per-column payload budget per block: 1 GiB keeps every Arrow int32 string
# offset far below 2^31 (combine_chunks / binary casts raise "offset
# overflow" past that). Module-level so tests can shrink it.
MAX_BLOCK_COL_BYTES = 1 << 30
# low bits of every block id reserved for the oversized-block sub-index
SUB_BLOCK_BITS = 8


def _split_oversized(
    tbl: pa.Table, manifest: dict, budget: int | None = None
) -> list[pa.Table]:
    """Row-slice a block whose largest column exceeds MAX_BLOCK_COL_BYTES —
    transcripts with multi-MB turns can push one column of one block past
    Arrow's int32 offset limit; sub-blocks restore the invariant every codec
    kernel assumes. nbytes works on chunked columns (no combine needed).

    Splits RECURSIVELY: an equal-row-count cut assumes uniform bytes/row,
    but one multi-GB row among small ones leaves a sub-slice still over
    budget — each part is re-checked and re-split until every part fits
    (a single row over budget is irreducible and passes through; Arrow's
    offset limit then surfaces at encode, as it would for any engine)."""
    if budget is None:
        budget = MAX_BLOCK_COL_BYTES

    def _split(t: pa.Table) -> list[pa.Table]:
        worst = max((t.column(n).nbytes for n in manifest), default=0)
        if worst <= budget or t.num_rows <= 1:
            return [t]
        parts = min(-(-worst // budget), t.num_rows)
        step = -(-t.num_rows // parts)
        out: list[pa.Table] = []
        for i in range(0, t.num_rows, step):
            out.extend(_split(t.slice(i, step)))
        return out

    parts = _split(tbl)
    if len(parts) > (1 << SUB_BLOCK_BITS):
        raise ValueError(
            f"block needs {len(parts)} sub-blocks (> {1 << SUB_BLOCK_BITS}): "
            "one scan split carries >256x the per-column byte budget — lower "
            "row_groups_per_split / target_block_rows instead"
        )
    return parts


def _encode_one_block(
    tbl: pa.Table,
    block_id: int,
    manifest: dict,
    codec_overrides: dict,
    budget: int | None = None,
    shared_tables: dict | None = None,
) -> pa.RecordBatch:
    """Encode one logical block into its blocks rows, one per column (one
    batch under ``_BLOCKS_ARROW``); oversized blocks are auto-split into
    sub-blocks with ids (block_id << SUB_BLOCK_BITS) | sub — every caller's
    id scheme reserves the low byte for this. ``budget`` is captured into
    encoder closures at plan time (executor workers re-import this module,
    so a module-global override would never reach them)."""
    cols: dict[str, list] = {k: [] for k in _BLOCKS_ARROW.names}
    for sub, part in enumerate(_split_oversized(tbl, manifest, budget)):
        for name, m in manifest.items():
            arr = part.column(name).combine_chunks()
            blk = _encode_column(
                arr, m["ptype"], codec_overrides.get(name),
                (shared_tables or {}).get(name),
            )
            row = {
                "block_id": (block_id << SUB_BLOCK_BITS) | sub,
                "column": name,
                **vars(blk),
                **_block_stats(arr, m["ptype"]),
            }
            for k, v in cols.items():
                v.append(row[k])
    return pa.RecordBatch.from_pydict(cols, schema=_BLOCKS_ARROW)


def _encode_column(
    arr: pa.Array, ptype: str, override: str | None, fsst_table=None
) -> Block:
    """One block column → its :class:`Block`: the kernel dispatch every
    encoder runs (inverse of :func:`_decode_column`)."""
    from d6tstack_spark.codecs.blocks import (
        encode_block_arrow,
        encode_block_floatlist,
    )

    if ptype == "any":
        return _encode_arrow_fallback(arr)
    if ptype in ("f32list", "f64list"):
        # null ELEMENTS inside lists are rare enough that the arrow
        # container carries them; null lists ride the validity bitmap
        if len(arr) and arr.flatten().null_count:
            return _encode_arrow_fallback(arr)
        return encode_block_floatlist(arr.cast(_PHYS_ARROW_TYPE[ptype]), ptype)
    if ptype in ("str", "bin"):
        # arrow-native fast path: the column never becomes python objects
        return encode_block_arrow(
            arr.cast(pa.binary()), ptype, override, fsst_table=fsst_table
        )
    values, valid = _extract_values(arr, ptype)
    return encode_block(values, valid, ptype, override)


def _encode_arrow_fallback(arr: pa.Array) -> Block:
    """Container codec for types outside the kernel set (arrays/maps/structs):
    Arrow IPC stream of the single column. Nulls ride the IPC buffers."""
    import io
    import zlib

    sink = io.BytesIO()
    t = pa.table({"v": arr})
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    payload = sink.getvalue()
    return Block(
        codec="arrow",
        params="{}",
        payload=payload,
        n_rows=len(arr),
        null_count=arr.null_count,
        raw_bytes=arr.nbytes,
        enc_bytes=len(payload),
        crc=zlib.crc32(payload),
    )


def _decode_arrow_fallback(payload: bytes | memoryview) -> pa.Array:
    with pa.ipc.open_stream(pa.py_buffer(payload)) as r:
        t = r.read_all()
    return t.column("v").combine_chunks()


def _encode_rows(
    t: pa.Table,
    block_id: int,
    manifest: dict,
    sort_keys: list[tuple[str, str]],
    codec_overrides: dict,
    budget: int | None = None,
    shared_tables: dict | None = None,
) -> pa.RecordBatch:
    """The last step of every encoder: sort ``t`` by the ``sort_keys``
    columns it has, physicalize it (:func:`_physicalize_arrow`) and
    encode it as one block (:func:`_encode_one_block`)."""
    sk = [k for k in sort_keys if k[0] in t.column_names]
    if sk:
        t = t.sort_by(sk)
    return _encode_one_block(
        _physicalize_arrow(t, manifest), block_id, manifest,
        codec_overrides, budget, shared_tables,
    )


def _make_frame_encoder(
    manifest: dict,
    codec_overrides: dict | None,
    order_cols: tuple[str, ...],
    target_rows: int | None = None,
    budget: int | None = None,
    shared_tables: dict | None = None,
):
    """The DataFrame encoder: ``mapInArrow``'s logical batches in (ts as
    ``timestamp[us, <session zone>]``, ts_ntz as ``timestamp[us]``, date
    as ``date32``, bool as ``bool``), blocks out. Rows buffer until their
    block id changes, then encode through :func:`_encode_rows`. The id:

    - cluster mode (``target_rows=None``): runs of ``__block_id``; the
      shuffle already sorted rows by it and ``order_cols``;
    - local mode: ``partitionId << 32 | seq``, a new ``seq`` once a block
      holds ``target_rows`` rows, each block sorted by ``order_cols`` in
      the task — a pure map job, no shuffle, no skew (a hot conversation
      spans consecutive blocks)."""
    codec_overrides = codec_overrides or {}
    sort_keys = [] if target_rows is None else [
        (c, "ascending") for c in order_cols
    ]

    def seq_runs(batches: Iterator[pa.RecordBatch]):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seq = n = 0
        for b in batches:
            yield pid << 32 | seq, b
            n += b.num_rows
            if n >= target_rows:
                seq, n = seq + 1, 0

    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pa.set_cpu_count(1)  # workers are the parallelism
        if target_rows is None:
            runs = (r for b in batches for r in _block_runs(b, "__block_id"))
        else:
            runs = seq_runs(batches)
        buf: list[pa.RecordBatch] = []
        cur: int | None = None

        def flush() -> pa.RecordBatch:
            return _encode_rows(
                pa.Table.from_batches(buf), cur, manifest, sort_keys,
                codec_overrides, budget, shared_tables,
            )

        for bid, rows in runs:
            if buf and bid != cur:
                yield flush()
                buf = []
            cur = bid
            buf.append(rows)
        if buf:
            yield flush()

    return encode_fn


def encode_table(
    df: DataFrame,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    bucket_col: str | None = None,
    num_blocks: int | None = None,
    codec_overrides: dict | None = None,
    skew_max_rows: int | None = 1_000_000,
    mode: str = "local",
    target_block_rows: int = 65536,
    max_block_col_bytes: int | None = None,
    shared_fsst_tables: dict | None = None,
) -> tuple[DataFrame, dict]:
    """Encode every column of ``df`` into a blocks DataFrame.

    ``shared_fsst_tables`` ({column: code-ordered token list}) lets a
    caller reuse the two-pass shared-table FSST scheme on the DataFrame
    path — e.g. pass ``build_shared_fsst_tables(paths, manifest)`` when
    the DataFrame is a parquet scan; every scan encode
    (:func:`encode_parquet_files`, the sliced entry points,
    ``encode_resume``) builds them with that one builder. Here the
    engine cannot sample the input deterministically (an unordered
    ``limit`` varies run to run, which would break bitwise-deterministic
    blocks), so the sample stays in the caller's hands.

    Returns ``(blocks_df, manifest)``; ``manifest`` is required by
    :func:`decode_table`. Lazy: nothing executes until an action.

    Both modes run one ``mapInArrow`` encoder over ``df`` as it is
    (:func:`_make_frame_encoder`); ts / ts_ntz / date / bool become their
    stored ints in the task, as in every scan encoder.

    mode="local" (default): shuffle-free — each scan split encodes its own
    blocks of ~``target_block_rows`` rows, sorted by order_cols within the
    block. The raw table never shuffles; this is the only strategy that
    survives 100 TB, and skew is a non-issue because blocks are
    size-bounded by construction.

    mode="cluster": repartition by hashed+salted bucket_col so each
    conversation's turns co-locate (maximal run lengths on the bucket
    column), with explicit skew salting (:func:`assign_block_ids`). Costs
    a full shuffle of the raw data — use when block/bucket alignment
    matters more than the shuffle. The salt counts rows by the last order
    column, so with ``skew_max_rows`` set that column must be an integer
    (a dense row position such as ``turn_idx``); any other type raises
    ``ValueError`` before a job runs.
    """
    manifest = build_manifest(df.schema)
    missing = [c for c in order_cols if c not in manifest]
    if missing:
        raise ValueError(f"order_cols {missing} are not columns of df")
    if mode == "local":
        enc = _make_frame_encoder(
            manifest, codec_overrides, order_cols, target_block_rows,
            max_block_col_bytes, shared_fsst_tables,
        )
        return df.mapInArrow(enc, BLOCKS_SCHEMA), manifest
    if mode != "cluster":
        raise ValueError(f"unknown mode {mode!r}; valid: 'local', 'cluster'")
    salt_col = order_cols[-1]
    kind = dict(df.dtypes)[salt_col]
    if skew_max_rows and kind not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"skew_max_rows salts by floor({salt_col} / skew_max_rows): "
            f"{salt_col!r} must be an integer row position, not {kind}; "
            "pass skew_max_rows=None to encode without salting"
        )
    bucket_col = bucket_col or order_cols[0]
    if num_blocks is None:
        num_blocks = max(df.sparkSession.sparkContext.defaultParallelism * 2, 8)
    withid = assign_block_ids(df, bucket_col, salt_col, num_blocks, skew_max_rows)
    enc = _make_frame_encoder(
        manifest, codec_overrides, order_cols, None, max_block_col_bytes,
        shared_fsst_tables,
    )
    blocks = (
        withid.repartition(num_blocks, "__block_id")
        .sortWithinPartitions("__block_id", *order_cols)
        .mapInArrow(enc, BLOCKS_SCHEMA)
    )
    return blocks, manifest


# ---------------------------------------------------------------------------
# scan-fused encode (the 100 TB fast path)
# ---------------------------------------------------------------------------


def build_manifest_arrow(schema: pa.Schema) -> dict:
    """Arrow-schema variant of :func:`build_manifest`."""
    _MAP = {
        pa.string(): "str",
        pa.large_string(): "str",
        pa.binary(): "bin",
        pa.int8(): "i8",
        pa.int16(): "i16",
        pa.int32(): "i32",
        pa.int64(): "i64",
        pa.float32(): "f32",
        pa.float64(): "f64",
    }
    manifest: dict[str, dict] = {}
    for f in schema:
        if f.type in _MAP:
            manifest[f.name] = {"ptype": _MAP[f.type], "logical": None}
        elif (pa.types.is_list(f.type) or pa.types.is_large_list(f.type)) and (
            pa.types.is_float32(f.type.value_type)
            or pa.types.is_float64(f.type.value_type)
        ):
            ptype = "f32list" if pa.types.is_float32(f.type.value_type) else "f64list"
            manifest[f.name] = {"ptype": ptype, "logical": None}
        elif pa.types.is_timestamp(f.type):
            manifest[f.name] = {
                "ptype": "i64",
                "logical": "ts" if f.type.tz else "ts_ntz",
            }
        elif pa.types.is_date32(f.type) or pa.types.is_date64(f.type):
            manifest[f.name] = {"ptype": "i32", "logical": "date"}
        elif pa.types.is_boolean(f.type):
            manifest[f.name] = {"ptype": "i8", "logical": "bool"}
        else:
            manifest[f.name] = {"ptype": "any", "logical": _spark_type_str(f.type)}
    return manifest


def _spark_type_str(t: pa.DataType) -> str:
    """Spark simpleString for the arrow types the 'any' fallback carries."""
    _S = {
        pa.string(): "string", pa.binary(): "binary", pa.int8(): "tinyint",
        pa.int16(): "smallint", pa.int32(): "int", pa.int64(): "bigint",
        pa.float32(): "float", pa.float64(): "double", pa.bool_(): "boolean",
    }
    if t in _S:
        return _S[t]
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_spark_type_str(t.value_type)}>"
    if pa.types.is_timestamp(t):
        return "timestamp"
    raise ValueError(f"unsupported arrow type for fused encode: {t}")


def _union_input_manifest(paths: list[str]) -> dict:
    """The one scan manifest: the UNION of the input files' schemas
    (footer-only — the split planner opens every footer anyway). A
    file missing a union column gets explicit all-null blocks from the
    scan encoder (:func:`_physicalize_arrow`), so every block written in
    one run is complete on disk. A column typed differently across files
    is a hard error, raised before any job runs (the drift-stacker's
    policy: widening silently would corrupt the decode contract)."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for p in sorted(paths):
        m = build_manifest_arrow(pq.read_schema(p))
        for k, v in m.items():
            have = out.get(k)
            if have is None:
                out[k] = v
            elif (have["ptype"], have["logical"]) != (v["ptype"], v["logical"]):
                raise ValueError(
                    f"type conflict for column {k!r} across input files: "
                    f"{have['ptype']}/{have['logical']} vs "
                    f"{v['ptype']}/{v['logical']} ({p})"
                )
    return out


# A split's base block id is ``file_idx << 32 | slice << _RG_BITS | rg``.
# Slice 0 — every split of a plan without ``target_tasks`` — keeps
# ``file_idx << 32 | rg``, the scheme state dirs are stamped with (resume
# finds a split's blocks by it); sub-row-group slices are never persisted.
_RG_BITS = 22

# a plan row as :func:`map_slices` hands it to :func:`_make_scan_encoder`
_SPLIT_DDL = (
    "file_idx int, path string, rg int, start long, nrows long, slice int, "
    "nrg int"
)


def plan_parquet_splits(
    paths: list[str],
    row_groups_per_split: int = 2,
    file_indices: dict[str, int] | None = None,
    target_tasks: int | None = None,
    min_rows_per_slice: int = 4096,
) -> list[tuple]:
    """The scan planner: driver-side splits from parquet footers,
    deterministic (sorted paths — the d6tstack np.sort(fname_list)
    discipline, reference combine_csv.py:62). A split is the row range
    ``[start, start + nrows)`` of ``nrg`` row groups from ``rg`` on,
    emitted as ``(file_idx, path, rg, start, nrows, slice, nrg)``. On
    Iceberg this is the snapshot's file+split list instead.

    ``file_indices`` pins each path's file_idx (checkpoint/resume persists
    this map so block ids stay stable when files are added between runs);
    default = position in the sorted path list.

    With ``target_tasks`` each split is cut into up to ``target_tasks //
    splits`` row slices of at least ``min_rows_per_slice`` rows (floor: N
    slices ≤ target_tasks is one task wave — a ceil made 6 row groups × 6
    slices = 36 tasks on 32 cores, and the second wave cost a full task
    latency), at most 16 per split: each slice re-reads its row groups,
    and past ~16× the redundant decompress outweighs the parallelism
    (a 1-row-group table was fastest at 16 slices, slower at 32 and 64).
    With enough row groups this is one slice per split."""
    import pyarrow.parquet as pq

    groups = []
    for fi, p in enumerate(sorted(paths)):
        if file_indices is not None:
            fi = file_indices[p]
        md = pq.ParquetFile(p).metadata
        if md.num_row_groups > 1 << _RG_BITS:
            raise ValueError(
                f"{p} has {md.num_row_groups} row groups; block ids hold "
                f"at most {1 << _RG_BITS}"
            )
        for rg in range(0, md.num_row_groups, row_groups_per_split):
            nrg = min(row_groups_per_split, md.num_row_groups - rg)
            n = sum(md.row_group(rg + i).num_rows for i in range(nrg))
            groups.append((fi, p, rg, nrg, n))
    per = 1
    if target_tasks is not None and groups:
        per = min(max(1, target_tasks // len(groups)), 16)
    splits = []
    for fi, p, rg, nrg, n in groups:
        k = min(per, max(1, n // min_rows_per_slice))
        step = max(-(-n // k), 1)
        for si, start in enumerate(range(0, max(n, 1), step)):
            splits.append((fi, p, rg, start, min(step, n - start), si, nrg))
    return splits


def build_shared_fsst_tables(
    paths: list[str], manifest: dict, sample_rows: int = 16384
) -> dict[str, list[bytes]]:
    """Driver-side pass 0 of the two-pass shared-table FSST scheme: one
    symbol table per string column, built from its first ``sample_rows``
    non-null values in the first row group of the first (sorted) path.
    That row group is read in bounded batches, stopping once every column
    has its sample, so driver time does not grow with row-group size.
    Deterministic for a given input set, and stable under resume as long
    as no new file sorts before the original first file — and even then
    only COMPRESSION varies, never correctness: blocks embed whichever
    table encoded them."""
    import pyarrow.parquet as pq

    from d6tstack_spark.codecs.kernels import build_fsst_table

    str_cols = [n for n, m in manifest.items() if m["ptype"] in ("str", "bin")]
    if not str_cols:
        return {}
    f = pq.ParquetFile(sorted(paths)[0])
    present = [c for c in str_cols if c in f.schema_arrow.names]
    if f.metadata.num_row_groups == 0 or not present:
        return {}
    batches, have = [], dict.fromkeys(present, 0)
    for b in f.iter_batches(
        batch_size=sample_rows, row_groups=[0], columns=present,
        use_threads=False,
    ):
        batches.append(b)
        for c in present:
            have[c] += b.num_rows - b.column(c).null_count
        if min(have.values()) >= sample_rows:
            break
    if not batches:
        return {}
    t = pa.Table.from_batches(batches)
    out: dict[str, list[bytes]] = {}
    for c in present:
        arr = t.column(c).combine_chunks().drop_null().cast(pa.binary())
        tbl = build_fsst_table(arr.slice(0, sample_rows))
        if tbl:
            out[c] = tbl
    return out


def _physicalize_arrow(t: pa.Table, manifest: dict) -> pa.Table:
    """A block's rows → what every encoder stores: the manifest's columns
    in its order, ts → int64 µs (UTC µs from a zone-tagged timestamp,
    whatever its zone; wall-clock µs from a naive one), date → int32
    days, bool → int8. A manifest column the rows lack (a scan split of
    a file without it) becomes an explicit all-null column, so the block
    stays complete on disk and the per-file decode invariant holds."""
    cols = {}
    for name, m in manifest.items():
        if name not in t.column_names:
            cols[name] = pa.nulls(len(t), type=_null_arrow_type(m))
            continue
        arr = t.column(name)
        if m["logical"] in ("ts", "ts_ntz"):
            # normalize the source unit first: parquet files may carry ns
            # (pandas default) or ms timestamps, and a bare int64 cast
            # would keep that unit while decode restores µs — 1000x off
            tz = arr.type.tz if hasattr(arr.type, "tz") else None
            arr = arr.cast(pa.timestamp("us", tz=tz)).cast(pa.int64())
        elif m["logical"] == "date":
            arr = arr.cast(pa.date32()).cast(pa.int32())
        elif m["logical"] == "bool":
            arr = arr.cast(pa.int8())
        cols[name] = arr
    return pa.table(cols)


def _make_scan_encoder(manifest: dict, codec_overrides: dict | None,
                       order_cols: tuple[str, ...],
                       budget: int | None = None,
                       shared_tables: dict | None = None):
    """Encoder of :func:`plan_parquet_splits` rows: each split reads its
    row groups with pyarrow, keeps its row range, sorts it by
    ``order_cols`` and becomes one block (plus oversize sub-blocks) under
    the split's id."""
    codec_overrides = codec_overrides or {}
    sort_keys = [(c, "ascending") for c in order_cols if c in manifest]

    def encode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        # the workers ARE the parallelism: one arrow thread each, or 32
        # workers × 32-thread pools thrash every cache level
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        files: dict[str, pq.ParquetFile] = {}
        for b in batches:
            for s in b.to_pylist():
                f = files.get(s["path"])
                if f is None:
                    f = files[s["path"]] = pq.ParquetFile(s["path"])
                bid = s["file_idx"] << 32 | s["slice"] << _RG_BITS | s["rg"]
                # the read goes straight into the call, unnamed: the sort
                # then frees the row groups the slice views
                yield _encode_rows(
                    f.read_row_groups(
                        range(s["rg"], s["rg"] + s["nrg"]), use_threads=False
                    ).slice(s["start"], s["nrows"]),
                    bid, manifest, sort_keys, codec_overrides, budget,
                    shared_tables,
                )

    return encode_fn


def encode_parquet_files(
    spark,
    paths: list[str] | str,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    codec_overrides: dict | None = None,
    row_groups_per_split: int = 2,
    output_partitions: int | None = None,
    max_block_col_bytes: int | None = None,
) -> tuple[DataFrame, dict]:
    """Scan-fused encode: the driver plans (file, row-group) splits from
    parquet footers; each task reads its split with pyarrow directly and
    encodes it — the raw table never crosses the JVM↔Python boundary and
    never shuffles. This is the throughput path for bulk encode jobs
    (bench.py uses it); :func:`encode_table` is the DataFrame-native path
    for encoding arbitrary query results.

    The manifest is the union of the files' schemas
    (:func:`_union_input_manifest`): a column only some files have comes
    back null for the others' rows, and a column typed differently across
    files raises before any job runs.

    Block id = (file_idx<<32 | first_row_group) << SUB_BLOCK_BITS | sub —
    deterministic under retries (sub > 0 only when a block exceeds the
    per-column byte budget and auto-splits). The tasks come from
    :func:`map_slices`: ``output_partitions`` (default ~2 per core) tasks,
    each encoding a contiguous run of splits into one output file — fewer
    per-task overheads and files (the driver-side commit of thousands of
    tiny files is a serial cost).

    At plan time the driver also builds a shared FSST symbol table per
    string column (:func:`build_shared_fsst_tables`), so every fsst block
    maps tokens to codes in one hash pass instead of re-deriving a table
    per block; a block whose content drifted from the sample silently
    falls back to the local build (kernels._enc_fsst_shared).
    """
    if isinstance(paths, str):
        paths = [paths]
    manifest = _union_input_manifest(paths)
    shared_tables = build_shared_fsst_tables(paths, manifest)
    splits = plan_parquet_splits(paths, row_groups_per_split)
    n_tasks = min(
        len(splits),
        output_partitions or spark.sparkContext.defaultParallelism * 2,
    )
    enc = _make_scan_encoder(
        manifest, codec_overrides, order_cols, max_block_col_bytes,
        shared_tables,
    )
    blocks = map_slices(spark, splits, n_tasks, enc, BLOCKS_SCHEMA, _SPLIT_DDL)
    return blocks, manifest


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def _null_arrow_type(m: dict) -> pa.DataType:
    """Arrow type for a null-padded column of manifest entry ``m`` on the
    PHYSICAL (encode) side: ts/date/bool pads are int columns here."""
    if m["ptype"] != "any":
        return _PHYS_ARROW_TYPE[m["ptype"]]
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(T._parse_datatype_string(m["logical"]))


# what the block decoder emits for the physicalized logical types: the
# Arrow types Spark reads as TIMESTAMP, TIMESTAMP_NTZ, DATE and BOOLEAN.
# The timestamp and date casts reinterpret the int64/int32 buffers
# (zero-copy); bool repacks the int8 0/1 values into a bitmap. Spark
# takes the stored µs as they are, so no session time zone is read.
_LOGICAL_ARROW_TYPE = {
    "ts": pa.timestamp("us", tz="UTC"),
    "ts_ntz": pa.timestamp("us"),
    "date": pa.date32(),
    "bool": pa.bool_(),
}


def _payload_views(col) -> list[memoryview]:
    """Each value of a binary column (an Array or a ChunkedArray) as a
    zero-copy view into its Arrow data buffer — the codec kernels read
    payloads through memoryviews, so no payload becomes a Python
    ``bytes``."""
    out = []
    for ch in getattr(col, "chunks", [col]):
        _, offsets, data = ch.buffers()
        width = 8 if pa.types.is_large_binary(ch.type) else 4
        o = np.frombuffer(
            offsets, f"<i{width}", len(ch) + 1, ch.offset * width
        ).tolist()
        mv = memoryview(b"" if data is None else data)
        out.extend(mv[o[i] : o[i + 1]] for i in range(len(ch)))
    return out


def _block_rows(rows) -> Iterator[tuple]:
    """``(column, codec, params, n_rows, null_count, payload)`` for each
    blocks row of an Arrow table or batch: the metadata as Python values,
    the payload as a view of its Arrow buffer (:func:`_payload_views`)."""
    meta = [
        rows.column(c).to_pylist()
        for c in ("column", "codec", "params", "n_rows", "null_count")
    ]
    return zip(*meta, _payload_views(rows.column("payload")))


def _decode_column(
    ptype: str, codec: str, params: str, n: int, nulls: int, payload
) -> pa.Array:
    """One block column's payload → Arrow array of its physical type
    (``str`` as ``string``): the kernel dispatch every decoder runs."""
    from d6tstack_spark.codecs.blocks import (
        decode_block_arrow,
        decode_block_floatlist,
    )

    if ptype == "any" or codec == "arrow":
        return _decode_arrow_fallback(payload)
    if ptype in ("f32list", "f64list"):
        return decode_block_floatlist(payload, params, n, nulls, ptype)
    if ptype in ("str", "bin"):
        # arrow-native fast path: no per-row python in string decode
        arr = decode_block_arrow(payload, params, codec, n, nulls, ptype)
        return arr.cast(pa.string()) if ptype == "str" else arr
    values, valid = decode_block(payload, params, codec, n, nulls, ptype)
    mask = None if valid.all() else ~valid
    return pa.array(values, type=_PHYS_ARROW_TYPE[ptype], mask=mask)


def _block_distinct_values(
    ptype: str, codec: str, params: str, n: int, nulls: int, payload
) -> list:
    """The distinct non-null values of one block column as Python values
    in the physical type — what the Bloom and NDV builds hash. An
    all-null block decodes nothing."""
    if nulls >= n:
        return []
    arr = _decode_column(ptype, codec, params, n, nulls, payload).drop_null()
    if pa.types.is_integer(arr.type) or pa.types.is_floating(arr.type):
        return np.unique(arr.to_numpy()).tolist()
    return arr.unique().to_pylist()


def _decode_one_block(tbl: pa.Table, manifest: dict) -> pa.Table:
    """Decode one block — its blocks rows, as an Arrow table — into a
    table with the manifest's columns, in manifest order and in their
    logical Arrow types (``_LOGICAL_ARROW_TYPE``; other columns keep
    their physical type). Payloads go to the kernels as views of the
    Arrow buffers; only the metadata columns become Python values.

    Schema evolution: a column marked ``evolved`` in the manifest was added
    to the state dir after this block may have been written — if the block
    has no row for it, the column decodes as all-null (the value every
    pre-evolution row logically has). A missing NON-evolved column is
    corruption and raises."""
    by_col = {r[0]: r[1:] for r in _block_rows(tbl)}
    # the pad length: n_rows of any column the block has
    n = next((by_col[k][2] for k in manifest if k in by_col), None)
    arrays = {}
    for name, m in manifest.items():
        logical = _LOGICAL_ARROW_TYPE.get(m["logical"])
        blk = by_col.get(name)
        if blk is not None:
            arr = _decode_column(m["ptype"], *blk)
            arrays[name] = arr if logical is None else arr.cast(logical)
        elif not m.get("evolved"):
            bid = tbl.column("block_id")[0].as_py() if len(tbl) else "?"
            raise ValueError(
                f"incomplete block {bid}: column {name!r} missing and "
                "not marked evolved in the manifest — the blocks data "
                "is corrupt or the manifest belongs to another dir"
            )
        elif n is None:
            raise ValueError(
                "block has only evolved columns missing and no decoded "
                "column to take the row count from"
            )
        else:
            arrays[name] = pa.nulls(n, logical or _null_arrow_type(m))
    return pa.table(arrays)


def _block_runs(
    batch: pa.RecordBatch, key: str = "block_id"
) -> Iterator[tuple[int, pa.RecordBatch]]:
    """``(id, rows)`` for each block in ``batch``, by its ``key`` column.
    Encoder output holds each block's rows contiguously, and those runs
    are zero-copy slices; a batch whose blocks interleave (a shuffle's
    output) is first stably sorted by ``key``."""
    import pyarrow.compute as pc

    ids = batch.column(key).to_numpy()
    if not len(ids):
        return
    cut = np.flatnonzero(ids[1:] != ids[:-1]) + 1
    if len(np.unique(ids[np.r_[0, cut]])) <= len(cut):  # an id recurs
        batch = batch.take(pc.sort_indices(batch, [(key, "ascending")]))
        ids = batch.column(key).to_numpy()
        cut = np.flatnonzero(ids[1:] != ids[:-1]) + 1
    bounds = [0, *cut.tolist(), len(ids)]
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        yield int(ids[lo]), batch.slice(lo, hi - lo)


def _make_decoder(
    manifest: dict,
    zf: list[list[tuple]] | None = None,
    extra: dict | None = None,
    chunk_rows: int = 65536,
):
    """The block decoder: blocks batches in, decoded batches out. Rows
    are grouped by block_id (:func:`_block_runs`) and buffered as Arrow
    slices until a block has a row per column, then the block decodes
    (:func:`_decode_one_block`). ``zf`` (a task DNF,
    :func:`_zone_task_dnf`) skips each complete block that fails it,
    classified from the block's own stats rows
    (:func:`_zone_keep_ids_file`) before any payload is read; ``extra``
    holds the manifest entries of zone columns outside ``manifest``,
    whose rows ride along for that classification and are not decoded."""
    cols = {**manifest, **(extra or {})}
    ncols = len(cols)
    has_evolved = any(m.get("evolved") for m in cols.values())

    def decode(pieces: list[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tbl = pa.Table.from_batches(pieces)
        if zf is not None:
            keep = _zone_keep_ids_file(tbl.drop_columns(["payload"]), zf)
            if keep is not None and tbl["block_id"][0].as_py() not in keep:
                return  # the zone map rules the block out
        yield from _decode_one_block(tbl, manifest).to_batches(
            max_chunksize=chunk_rows
        )

    def decode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pa.set_cpu_count(1)  # workers are the parallelism
        pending: dict[int, list[pa.RecordBatch]] = {}
        for batch in batches:
            for bid, rows in _block_runs(batch):
                pieces = pending.setdefault(bid, [])
                pieces.append(rows)
                if sum(p.num_rows for p in pieces) >= ncols:
                    yield from decode(pending.pop(bid))
        if pending and not has_evolved:
            missing = {
                k: sum(p.num_rows for p in v) for k, v in pending.items()
            }
            raise ValueError(f"incomplete blocks at decode: {missing}")
        # evolved manifest: blocks written before a column was added can
        # never reach ncols rows — they flush here, null-padded by
        # _decode_one_block (which still raises if a NON-evolved column is
        # missing, keeping the corruption check for the original schema).
        # On the bulk per-file path this adds no memory (the task already
        # holds the whole file); on the shuffle path pre-evolution blocks
        # buffer to partition end.
        for bid in sorted(pending):
            yield from decode(pending[bid])

    return decode_fn


def _hadoop_list_files(spark, root: str, suffix: str) -> list[str]:
    """Files under ``root`` (recursively) whose names end in ``suffix``,
    listed through the JVM Hadoop FileSystem API — it resolves any scheme
    the cluster's Hadoop configuration knows (file://, hdfs://, s3a://,
    ...), unlike a driver-side glob which only sees local paths. A
    missing ``root`` lists nothing. Local file:-scheme results are
    stripped back to plain paths so pyarrow on the executors opens them
    without URI plumbing; other schemes pass through as URIs for
    pyarrow's filesystem resolution.

    Cost: 4 py4j calls to set up, then 3 per directory (its
    ``listStatus``, joined on the JVM side into one string) and none per
    file — a flat blocks dir lists in 7 calls however many files it
    holds. Each entry's text is Hadoop's ``FileStatus`` rendering, which
    opens with ``{path=<path>; isDirectory=<bool>``; directories are
    descended into, except ``_``- and ``.``-prefixed ones, which hold no
    published file (a dead writer's ``_temporary``), as in Spark's own
    file index. (py4j cannot hand a ``Path[]`` to an ``Object[]``
    parameter, so the array is joined through an ``ArrayIterator``.)"""
    hadoop_path = _jclass(spark, "org.apache.hadoop.fs.Path")
    todo = [hadoop_path(root)]
    fs = todo[0].getFileSystem(spark._jsc.hadoopConfiguration())
    join = _jclass(spark, "org.apache.commons.lang3.StringUtils").join
    entries = _jclass(
        spark, "org.apache.commons.collections4.iterators.ArrayIterator"
    )
    out: list[str] = []
    while todo:
        try:
            listing = join(entries(fs.listStatus(todo.pop())), "\n")
        except Py4JJavaError as e:
            if "java.io.FileNotFoundException" not in str(e.java_exception):
                raise
            continue  # missing root (or a subdirectory removed meanwhile)
        for m in _STATUS_ENTRY.finditer(listing):
            p, is_dir = m.group(1), m.group(2) == "true"
            if is_dir:
                if not p.rstrip("/").rsplit("/", 1)[-1].startswith(("_", ".")):
                    todo.append(hadoop_path(p))
            elif p.endswith(suffix):
                out.append(p[len("file:"):] if p.startswith("file:") else p)
    return out


# one entry of a joined ``FileStatus[]`` listing (``FileStatus.toString``)
_STATUS_ENTRY = re.compile(r"\{path=(.*?); isDirectory=(true|false)")


def _jclass(spark, fqn: str):
    """A JVM class by its full name, with no py4j round trip (the
    ``spark._jvm.a.b.C`` form spends one per package segment)."""
    from py4j.java_gateway import JavaClass

    return JavaClass(fqn, spark._jvm._gateway_client)


def map_slices(
    spark, rows: list, n_tasks: int, fn, out_schema, row_schema: str
) -> DataFrame:
    """``fn`` run over ``rows`` in ``n_tasks`` shuffle-free tasks: task
    ``k`` calls ``fn`` once with ``rows[cut[k]:cut[k+1]]`` (contiguous,
    near-equal slices; empty when ``n_tasks > len(rows)``) as one Arrow
    ``RecordBatch`` under ``row_schema`` (a Spark DDL string), and
    ``fn``'s batches are the task's output under ``out_schema``.

    The source is ``spark.range(0, n_tasks, 1, n_tasks)``: the ids are the
    only rows that cross the JVM boundary, and the work list travels in
    the pickled closure. The engine's map stages take their tasks from
    here, not from a Python RDD (``parallelize``): that adds a Python hop
    per task before ``fn`` runs (~0.25 s more per stage on 4 cores), and
    PySpark runs RDD workers in a second ``pyspark.daemon`` pool beside
    the Arrow-UDF one (``nproc`` more worker processes)."""
    n_tasks = max(1, n_tasks)
    schema = _ddl_arrow_schema(row_schema)
    cols = list(zip(*rows)) or [[] for _ in schema]
    work = pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
    )
    cut = [len(rows) * k // n_tasks for k in range(n_tasks + 1)]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for k in b.column("id").to_pylist():
                yield from fn(iter([work.slice(cut[k], cut[k + 1] - cut[k])]))

    return spark.range(0, n_tasks, 1, n_tasks).mapInArrow(run, out_schema)


@functools.lru_cache(maxsize=None)
def _ddl_arrow_schema(ddl: str) -> pa.Schema:
    """Arrow schema of a Spark DDL string. Spark's DDL parser lives in the
    JVM (a handful of py4j calls a parse), and ``map_slices`` callers pass
    a few fixed strings, so each is parsed once per process."""
    return to_arrow_schema(T._parse_datatype_string(ddl))


def decode_parquet_blocks(
    spark,
    blocks_dir: str,
    manifest: dict,
    columns: list[str] | None = None,
    block_filter: tuple | list | None = None,
    paths: list[str] | None = None,
    bloom=None,
) -> DataFrame:
    """Shuffle-free bulk decode — the inverse twin of
    :func:`encode_parquet_files`.

    The blocks sink (sinks.write_blocks / checkpoint state) writes whole
    blocks into single files, so a per-FILE task owns complete blocks:
    the plan is one wave of ``min(len(paths), defaultParallelism)`` tasks
    (:func:`map_files`, contiguous slices of the sorted path list, no
    exchange). Each task reads its files with pyarrow and hands their
    blocks rows, as Arrow batches, to the block decoder
    (:func:`_make_decoder`) — zero shuffle and no JVM↔Python payload
    transfer, the 100 TB decode path, where :func:`decode_table` must
    repartition by block_id. ``columns`` prunes at the parquet row level
    (only the selected columns' payload rows are read).

    ``block_filter=(col, lo, hi)`` — or a LIST of such tuples (ANDed),
    or a LIST OF LISTS (DNF: OR of ANDs, see :func:`compile_where`)
    — prunes whole blocks via the zone map inside the decode task: each
    task classifies its own files with :func:`_classify_file` (the
    file's stats rows, no payload bytes) and reads payload only for the
    qualifying blocks; a file with none reads no payload at all.
    ``bloom`` (a :class:`~d6tstack_spark.plans.bloomidx.BloomPlan`) is
    asked first: a file the Bloom index rules out reads neither stats nor
    payload. The driver runs no planning job and holds no block-id set:
    the task closure carries the path list (O(files)) and the DNF,
    however many blocks qualify. A file written before zone maps decodes
    whole (the caller's exact row filter still applies).

    Output: the ``columns`` (default: every manifest column), in that
    order and in their logical Spark types (:func:`_logical_struct`), so
    the plan is the map stage alone, with no cast projection, and
    TIMESTAMP_NTZ never meets the session time zone. Building the
    DataFrame takes a fixed number of py4j calls however many files
    there are: the listing's 7, two for ``defaultParallelism`` and
    PySpark's ~29 for ``mapInArrow`` over ``spark.range``.

    Listing goes through the Hadoop FileSystem API (scheme-agnostic:
    file://, hdfs://, s3a://, ... — whatever the cluster's Hadoop conf can
    resolve), and executors read via pyarrow URI resolution. The per-file
    complete-block invariant is enforced at write time (sinks.write_blocks
    rejects a nonzero spark.sql.files.maxRecordsPerFile) and re-checked at
    decode (incomplete blocks raise)."""
    full_manifest = manifest  # zone filter may target a non-projected column
    manifest, final_columns = _decode_projection(manifest, columns)
    if paths is None:
        paths = sorted(_hadoop_list_files(spark, blocks_dir, ".parquet"))
    else:
        # caller-pinned file set (snapshot/time-travel reads): same
        # per-file complete-block contract, no listing
        paths = sorted(paths)
    if not paths:
        raise ValueError(f"no blocks parquet files under {blocks_dir}")
    # DNF of task atoms — O(#branches × #preds), independent of block
    # count; validated here so a bad predicate fails before any job
    zf = _zone_task_dnf(
        full_manifest,
        _strip_evolved_unprunable(
            _normalize_block_filters(block_filter), full_manifest
        ),
    )
    col_filter = list(manifest) if columns is not None else None
    decoder = _make_decoder(manifest)

    def run(p: str) -> Iterator[pa.RecordBatch]:
        with _listed_file(p):
            keep_ids = _classify_file(p, zf, bloom).kept
            if keep_ids is not None and not keep_ids:
                return  # no block of this file may match
            t = _read_blocks(p, col_filter, keep_ids)
        yield from decoder(t.to_batches())

    out = map_files(spark, paths, run, _logical_struct(manifest))
    if final_columns is not None:
        out = out.select(*final_columns)  # drop the anchor column
    return out


def _decode_projection(
    manifest: dict, columns: list[str] | None
) -> tuple[dict, list[str] | None]:
    """``(manifest to decode, columns to keep after)`` for a projection;
    the second is None when the decode already has exactly ``columns``.
    An all-evolved projection decodes one original (non-evolved) anchor
    column too: pre-evolution blocks have NO rows for any projected
    column, so without it they would silently vanish."""
    if columns is None:
        return manifest, None
    missing = [c for c in columns if c not in manifest]
    if missing:
        raise ValueError(f"columns not in manifest: {missing}")
    dec = {c: manifest[c] for c in columns}
    if not dec or not all(m.get("evolved") for m in dec.values()):
        return dec, None
    anchor = next(k for k, m in manifest.items() if not m.get("evolved"))
    dec[anchor] = manifest[anchor]
    return dec, list(columns)


def map_files(spark, paths: list[str], fn, out_schema) -> DataFrame:
    """``fn(path)`` (an iterator of batches) over blocks files in one
    wave: :func:`map_slices` with ``min(len(paths), defaultParallelism)``
    tasks, each running ``fn`` on the files of its contiguous slice of
    ``paths`` in turn, with one Arrow thread (the tasks are the
    parallelism)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        for b in batches:
            for p in b.column("path").to_pylist():
                yield from fn(p)

    n_tasks = min(len(paths), spark.sparkContext.defaultParallelism)
    return map_slices(
        spark, [(p,) for p in paths], n_tasks, run, out_schema, "path string"
    )


@contextmanager
def _listed_file(p: str):
    """Report a listed blocks file that vanished before its task read it
    as what it is, not as a bare FileNotFoundError."""
    try:
        yield
    except FileNotFoundError as e:
        raise RuntimeError(
            f"blocks dir changed under the running decode: {p} "
            "was listed at planning time but is gone at task-read "
            "time — another process deleted or rewrote the sink "
            "directory mid-job. Each job must own a unique blocks "
            "dir for its lifetime."
        ) from e


def _read_blocks(p: str, col_filter: list[str] | None, keep_ids):
    """One blocks file's rows of ``col_filter`` (None = every column) in
    blocks ``keep_ids`` (None = every block). The keep-ids ride the
    parquet read as a filter: row groups whose block_id stats miss the
    set never load their PAYLOAD bytes (blocks are written contiguously,
    one record batch per block, so id ranges per row group are tight) —
    a selective read touches a fraction of even the qualifying files."""
    import pyarrow.parquet as pq

    flt = []
    if col_filter:
        flt.append(("column", "in", col_filter))
    if keep_ids is not None:
        flt.append(("block_id", "in", sorted(keep_ids)))
    return pq.read_table(p, use_threads=False, filters=flt or None)


_ZONE_STATS_COLS = ("vmin_num", "vmax_num", "vmin_str", "vmax_str")


def _zone_task_dnf(
    manifest: dict, dnf: list[list[tuple]] | None
) -> list[list[tuple]] | None:
    """Normalized block-filter DNF → task atoms ``(col, kind, lo_phys,
    hi_phys, is_str)`` for :func:`_zone_keep_ids_file`. Runs on the
    driver with no Spark job, so an unknown column raises here, before
    anything is scheduled."""
    if dnf is None:
        return None
    out = []
    for branch in dnf:
        atoms = []
        for bf in branch:
            col = bf[0]
            if col not in manifest:
                raise ValueError(
                    f"block_filter column {col!r} not in manifest"
                )
            m = manifest[col]
            if len(bf) == 2:
                atoms.append((col, bf[1], None, None, False))
                continue
            lo, hi = (
                _normalize_zone_bound(v, m["ptype"], m["logical"])
                for v in bf[1:]
            )
            atoms.append(
                (col, "range", lo, hi, m["ptype"] in ("str", "bin"))
            )
        out.append(atoms)
    return out


def _read_file_stats(path: str, zf: list[list[tuple]] | None = None):
    """One blocks file's stats rows (no payload column), restricted to
    the zone columns of ``zf`` when given. A file written before zone
    maps simply lacks the ``vmin_*``/``vmax_*`` columns."""
    import pyarrow.parquet as pq

    have = set(pq.read_schema(path).names)
    cols = ["column", "block_id", "n_rows", "null_count"] + [
        c for c in _ZONE_STATS_COLS if c in have
    ]
    flt = None
    if zf is not None:
        flt = [("column", "in", sorted({a[0] for br in zf for a in br}))]
    return pq.read_table(path, columns=cols, filters=flt, use_threads=False)


def _zone_keep_ids_file(stats: "pa.Table", zf: list[list[tuple]]):
    """Block ids of one file that may satisfy the task DNF ``zf``
    (:func:`_zone_keep_ids_rows`). None when the file predates zone maps
    (no stats columns — every block qualifies)."""
    import pyarrow.compute as pc

    if "vmin_num" not in stats.column_names:
        return None
    zcols = pa.array(sorted({a[0] for br in zf for a in br}), pa.string())
    rows = stats.filter(pc.is_in(stats.column("column"), zcols)).to_pylist()
    return _zone_keep_ids_rows(rows, zf)


def _zone_keep_ids_rows(rows: list[dict], zf: list[list[tuple]]) -> set[int]:
    """Block ids among stats ``rows`` that may satisfy the task DNF
    ``zf``: a block qualifies iff it passes SOME branch's EVERY atom, and
    a block with no stats row for an atom's column fails that atom."""
    by_col: dict[str, list[dict]] = {}
    for r in rows:
        by_col.setdefault(r["column"], []).append(r)
    keep: set[int] = set()
    for branch in zf:
        bids = None
        for zcol, kind, lo, hi, is_str in branch:
            ids = _zone_keep_ids_local(
                by_col.get(zcol, []), kind, lo, hi, is_str
            )
            bids = ids if bids is None else bids & ids
        keep |= bids
    return keep


def _zone_keep_ids_local(
    rows: list[dict], kind: str, lo, hi, is_str: bool
) -> set[int]:
    """The one zone classifier: evaluate one conservative zone predicate
    on stats rows of ONE column and return the qualifying block ids.
    Blocks without stats always qualify; a null vmax_str with vmin_str
    set means unbounded above (0xFF truncation cut); numeric bounds
    compare as float64; null predicates use the per-block
    ``null_count`` / ``n_rows`` (always recorded)."""
    ids: set[int] = set()
    if kind == "is_null":
        return {r["block_id"] for r in rows if r["null_count"] > 0}
    if kind == "not_null":
        return {r["block_id"] for r in rows if r["null_count"] < r["n_rows"]}
    if not is_str:
        lo = None if lo is None else float(lo)
        hi = None if hi is None else float(hi)
    for r in rows:
        vmin = r["vmin_str"] if is_str else r["vmin_num"]
        vmax = r["vmax_str"] if is_str else r["vmax_num"]
        if vmin is None:  # no stats recorded → conservative keep
            ids.add(r["block_id"])
            continue
        ok = True
        if hi is not None and not (vmin <= hi):
            ok = False
        if ok and lo is not None:
            if is_str:
                # null upper bound = unbounded above
                ok = vmax is None or vmax >= lo
            else:
                ok = vmax is not None and vmax >= lo
        if ok:
            ids.add(r["block_id"])
    return ids


class FileClass(NamedTuple):
    """How one blocks file meets a read plan (:func:`_classify_file`)."""

    bloom: bool  # the Bloom plan keeps the file
    stats: "pa.Table | None"  # its stats rows, when they were read
    rows: dict | None  # block id → row count (when a tally was asked)
    kept: set | None  # block ids that may match; None = every block


def _classify_file(p: str, zf=None, bloom=None, tally: bool = False):
    """The per-file classifier every read and stats planner runs, in the
    task that owns the file: the Bloom plan first, then the zone DNF
    ``zf`` on the file's own stats rows. A file the Bloom plan rules out
    keeps no block; with no DNF, or in a file written before zone maps,
    every block is kept (``kept`` None). Stats are read only when a zone
    decision or the row tally (``tally``: every block's row count, read
    from all columns' stats rows) needs them."""
    keeps = bloom is None or bloom.keeps(p)
    if not tally and (zf is None or not keeps):
        return FileClass(keeps, None, None, None if keeps else set())
    st = _read_file_stats(p, None if tally else zf)
    rows = None
    if tally:
        g = st.group_by("block_id").aggregate([("n_rows", "max")])
        rows = dict(
            zip(
                g.column("block_id").to_pylist(),
                g.column("n_rows_max").to_pylist(),
            )
        )
    kept = None if zf is None else _zone_keep_ids_file(st, zf)
    return FileClass(keeps, st, rows, kept if keeps else set())


_CENSUS_SCHEMA = (
    "path string, bloom boolean, blocks long, rows long, "
    "kept_blocks long, kept_rows long"
)


def file_census(
    spark, paths: list[str], zf=None, bloom=None, tally: bool = True
) -> list:
    """:func:`_classify_file` over ``paths`` in one :func:`map_files`
    job: one tally row per file, in ``paths`` order — ``(path, bloom,
    blocks, rows, kept_blocks, kept_rows)``, ``bloom`` whether the Bloom
    plan keeps the file (one that it rules out keeps 0 blocks). With
    ``tally`` off, ``blocks``, ``rows`` and ``kept_rows`` are None, and
    so is ``kept_blocks`` where the whole file is kept without a zone
    decision. The planners (``explain_decode``, purge/update targeting,
    the rewrite parity count, the changelog scan, the Bloom list APIs)
    run this one pass, so their answers are the decode tasks' answers."""
    if not paths:
        return []
    schema = _ddl_arrow_schema(_CENSUS_SCHEMA)

    def run(p: str):
        with _listed_file(p):
            c = _classify_file(p, zf, bloom, tally)
        if c.rows is None:
            k = None if c.kept is None else len(c.kept)
            row = (p, c.bloom, None, None, k, None)
        else:
            kept = c.rows.keys() if c.kept is None else c.kept
            row = (
                p, c.bloom, len(c.rows), sum(c.rows.values()),
                len(kept), sum(c.rows[i] for i in kept),
            )
        yield pa.RecordBatch.from_pylist(
            [dict(zip(schema.names, row))], schema=schema
        )

    got = map_files(spark, paths, run, _CENSUS_SCHEMA).collect()
    by_path = {r.path: r for r in got}
    return [by_path[p] for p in paths]


def _normalize_zone_bound(v, ptype: str, logical: str | None):
    """User-facing bound → physical value (datetime→µs, date→days,
    bool→int, str→utf-8 bytes)."""
    import datetime as _dt

    if v is None:
        return None
    if logical in ("ts", "ts_ntz") and isinstance(v, _dt.datetime):
        # ts: the instant (naive = UTC); ts_ntz: the wall clock as
        # written, zone dropped — what ``_physicalize_arrow`` stores
        if v.tzinfo is not None:
            if logical == "ts":
                v = v.astimezone(_dt.timezone.utc)
            v = v.replace(tzinfo=None)
        return (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    if logical == "date" and isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days
    if logical == "bool" and isinstance(v, bool):
        return int(v)
    if ptype in ("str", "bin"):
        return v.encode() if isinstance(v, str) else bytes(v)
    return v


def _normalize_block_filters(block_filter) -> list[list[tuple]] | None:
    """User-facing ``block_filter`` → DNF: a list of BRANCHES (ORed),
    each branch a list of predicates (ANDed). A block qualifies iff it
    can satisfy SOME branch's EVERY predicate.

    Accepted spellings:

    - ``None`` — no pruning;
    - one predicate ``(col, lo, hi)`` — single branch, single pred;
    - a list of predicates — ONE branch (ANDed; what a conjunctive
      WHERE clause prunes with — backwards compatible);
    - a list of lists of predicates — full DNF (what
      :func:`compile_where` emits for OR expressions).

    Predicate forms:

    - ``(col, lo, hi)`` — inclusive range overlap (None = open end);
    - ``(col, "is_null")`` / ``(col, "not_null")`` — the block's recorded
      ``null_count`` proves it can(not) contain (non-)null rows.

    A single predicate is recognized by its string first element."""
    if block_filter is None:
        return None

    def _is_pred(p) -> bool:
        return (
            isinstance(p, (tuple, list))
            and len(p) in (2, 3)
            and isinstance(p[0], str)
        )

    if _is_pred(block_filter):
        dnf = [[block_filter]]
    else:
        items = list(block_filter)
        if not items:
            return None
        if all(_is_pred(p) for p in items):
            dnf = [items]  # one conjunction branch (backwards compatible)
        elif all(
            isinstance(b, (list, tuple)) and not _is_pred(b) for b in items
        ):
            dnf = [list(b) for b in items]
            if any(not b for b in dnf):
                return None  # an empty branch is TRUE → nothing prunable
        else:
            raise ValueError(
                "block_filter must be a predicate tuple, a list of "
                "predicates (ANDed), or a list of predicate lists "
                f"(DNF) — got mixed forms: {block_filter!r}"
            )
    for branch in dnf:
        for p in branch:
            ok = (
                isinstance(p, (tuple, list))
                and isinstance(p[0], str)
                and (
                    len(p) == 3
                    or (len(p) == 2 and p[1] in ("is_null", "not_null"))
                )
            )
            if not ok:
                raise ValueError(
                    "block_filter predicate must be (column, lo, hi) or "
                    f"(column, 'is_null'|'not_null'): {p!r}"
                )
    return [[tuple(p) for p in branch] for branch in dnf]


def _strip_evolved_unprunable(
    dnf: list[list[tuple]] | None, manifest: dict
) -> list[list[tuple]] | None:
    """Schema evolution × zone maps: blocks written before a column was
    added have NO stats row for it, which the id-set logic reads as "prune".
    That is the CORRECT answer for range/point/IN and ``not_null`` atoms
    (every pre-evolution row is null there, and null never matches), but
    wrong for ``is_null`` — those old blocks are all-null and must be kept.
    Drop ``is_null`` atoms on evolved columns (widening an AND branch is
    always sound); a branch left empty is TRUE, so pruning disables
    entirely (None)."""
    if dnf is None:
        return None
    if not any(m.get("evolved") for m in manifest.values()):
        return dnf
    out = []
    for branch in dnf:
        kept = [
            p
            for p in branch
            if not (
                len(p) == 2
                and p[1] == "is_null"
                and manifest.get(p[0], {}).get("evolved")
            )
        ]
        if not kept:
            return None
        out.append(kept)
    return out


def decode_table(
    blocks: DataFrame,
    manifest: dict,
    columns: list[str] | None = None,
    block_filter: tuple | list | None = None,
) -> DataFrame:
    """Inverse of :func:`encode_table`: blocks → original logical columns.

    ``columns`` decodes a projection only, in that column order: the
    blocks scan is filtered to those column names (predicate pushdown
    into the blocks parquet — the column-pruning payoff of the columnar
    block layout; never touches the other columns' payload bytes).
    Columns come back in their logical types, as from
    :func:`decode_parquet_blocks`.

    ``block_filter=(col, lo, hi)`` prunes WHOLE BLOCKS via the zone map
    (per-block min/max recorded at encode): only blocks whose [min, max]
    for ``col`` overlaps the inclusive [lo, hi] range are decoded (None =
    open end). A LIST of such tuples is a conjunction — the block must
    overlap every range (multi-column WHERE pruning); a LIST OF LISTS is
    a disjunction of conjunctions (OR pruning — see
    :func:`compile_where`). After the ``repartition("block_id")`` a
    decode task holds every row of each block it owns, the zone columns'
    stats rows included. The block decoder (:func:`_make_decoder`)
    buffers each block's rows as Arrow slices and, once the block is
    complete, classifies it from its own stats rows
    (:func:`_zone_keep_ids_file`, the classifier of every read) before
    any payload is read, skipping the ones that fail: the plan is the one
    exchange and the map stage, with no join. The exchange still carries
    the payload rows of pruned blocks. Pruning is conservative —
    callers still apply the exact row-level filter to the result; blocks
    written before zone maps (or with unsupported stats) always qualify,
    so results are never wrong.

    Row order is unspecified (Spark semantics); the round-trip invariant is
    asserted under stable (conv_id, turn_idx) ordering by callers."""
    zf = _zone_task_dnf(
        manifest,
        _strip_evolved_unprunable(
            _normalize_block_filters(block_filter), manifest
        ),
    )
    if zf is not None and "vmin_num" not in blocks.columns:
        zf = None  # blocks written before zone maps: nothing to prune by
    full, final_columns = manifest, None
    if columns is not None:
        if not columns:
            raise ValueError("columns must be non-empty (or None for all)")
        manifest, final_columns = _decode_projection(manifest, columns)
    extra = {}
    if zf is not None:
        extra = {
            a[0]: full[a[0]]
            for br in zf
            for a in br
            if a[0] not in manifest
        }
    if columns is not None:
        blocks = blocks.filter(F.col("column").isin([*manifest, *extra]))
    out = blocks.repartition("block_id").mapInArrow(
        _make_decoder(manifest, zf, extra), _logical_struct(manifest)
    )
    if final_columns is not None:
        out = out.select(*final_columns)  # drop the anchor column
    return out


# --------------------------------------------------------------------------
# decode_where: SQL predicate → zone pruning + exact row filter
# --------------------------------------------------------------------------


class CompiledWhere(NamedTuple):
    """A WHERE string compiled once by :func:`compile_where`; every
    pruning layer of a read (zone maps, Bloom probes, the decode
    projection) reads from this one result."""

    where: str
    dnf: list  # may-match zone DNF (``block_filter`` form); [] = no pruning
    not_dnf: list  # blocks that may hold a NON-matching row; [] = all may
    in_sets: list  # top-level ``col IN (...)`` conjuncts: (col, values)
    columns: list  # manifest columns the expression references


_MAX_DNF_BRANCHES = 64
_JVM_ERRORS = (PySparkException, Py4JJavaError)
_CMP_OPS = {
    "EqualTo": "=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}
_FLIP_OP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}
_ZONE_PTYPES = ("i8", "i16", "i32", "i64", "f32", "f64", "str", "bin")
_LOGICAL_SPARK_TYPE = {
    "ts": T.TimestampType(),
    "ts_ntz": T.TimestampNTZType(),
    "date": T.DateType(),
    "bool": T.BooleanType(),
}


@contextmanager
def _quiet_query_context_log():
    """Mute PySpark's query-context loggers, which log every captured JVM
    error at ERROR with its whole stack trace when the exception is built:
    ``compile_where`` recovers from such errors (the row filter raises
    them where they matter). Levels are restored on exit."""
    from pyspark.logger import PySparkLogger

    loggers = [
        PySparkLogger.getLogger(n)
        for n in ("SQLQueryContextLogger", "DataFrameQueryContextLogger")
    ]
    levels = [lg.level for lg in loggers]
    for lg in loggers:
        lg.setLevel(logging.CRITICAL + 1)
    try:
        yield
    finally:
        for lg, level in zip(loggers, levels):
            lg.setLevel(level)


def compile_where(spark, where: str, manifest: dict) -> CompiledWhere:
    """SQL boolean expression → zone-map DNF, its negation, the top-level
    IN value sets and the referenced columns, compiled by Catalyst.

    The expression filters an empty JVM-side relation carrying the
    manifest's logical schema (no Python RDD, no Spark job); the
    optimized plan's Filter condition is then already normalized —
    NOT pushed down (De Morgan, flipped comparisons), BETWEEN expanded,
    ``LIKE 'ab%'`` rewritten to StartsWith, literals typed, unescaped
    and cast to the column type, timestamps resolved in the session
    time zone. And/Or and atoms of the form column-vs-literal
    (comparisons, IN, StartsWith, IS [NOT] NULL) map onto ``(col, lo,
    hi)`` / ``(col, "is_null"|"not_null")`` predicates with inclusive
    bounds. An untranslatable atom is a TRUE factor inside a conjunction
    but poisons a disjunction; past ``_MAX_DNF_BRANCHES`` branches the
    expression is left entirely to the row filter. Any parse, analysis
    or optimization error prunes nothing (the exact row filter raises
    it), and a parse or analysis error references every column."""
    import json

    jss = spark._jsparkSession
    rel = jss.createDataFrame(
        spark._jsc.emptyRDD(),
        jss.parseDataType(_logical_struct(manifest).json()),
    )
    with _quiet_query_context_log():
        try:
            qe = rel.filter(where).queryExecution()
        except _JVM_ERRORS:
            qe = None
    if qe is None:
        return CompiledWhere(where, [], [], [], list(manifest))
    by_lower = {c.lower(): c for c in manifest}

    def col_of(name: str):  # Catalyst keeps the user's spelling
        return name if name in manifest else by_lower.get(name.lower())

    refs = qe.analyzed().references().toSeq()
    used = {col_of(refs.apply(i).name()) for i in range(refs.size())}
    columns = [c for c in manifest if c in used]
    with _quiet_query_context_log():
        try:
            plan, conds = qe.optimizedPlan(), []
            while plan.children().size() == 1:
                if plan.nodeName() == "Filter":
                    conds.append(plan.condition())
                plan = plan.children().head()
            if plan.children().size() > 1:  # subquery join: prune nothing
                conds = []
            trees = [
                _where_tree(c, json.loads(c.toJSON()), manifest, col_of)
                for c in conds
            ]
        except _JVM_ERRORS:  # e.g. an ANSI cast error while constant folding
            trees = []
    if not trees:
        return CompiledWhere(where, [], [], [], columns)
    # top-level conjuncts of every Filter (a Python UDF splits the Filter)
    tops = [c for t in trees for c in (t[1] if t[0] == "and" else [t])]
    tree = ("and", tops)
    # a row fails the predicate where its negation holds or where it
    # evaluates NULL — which column-vs-literal atoms do only on a NULL
    # column, so the negation widens with IS NULL on every column
    neg = _dnf(tree, True)
    if neg:
        neg = neg + [[(c, "is_null")] for c in columns]
    return CompiledWhere(
        where,
        _dnf(tree, False) or [],
        neg if neg and len(neg) <= _MAX_DNF_BRANCHES else [],
        [c[3] for c in tops if c[0] == "atom" and c[3]],
        columns,
    )


def _logical_struct(manifest: dict) -> T.StructType:
    """The decoded (logical) schema a manifest describes — the output
    schema of every block decoder."""
    return T.StructType(
        [
            T.StructField(
                name,
                T._parse_datatype_string(m["logical"])
                if m["ptype"] == "any"
                else _LOGICAL_SPARK_TYPE.get(
                    m["logical"], _PHYS_SPARK_TYPE[m["ptype"]]
                ),
                True,
            )
            for name, m in manifest.items()
        ]
    )


def _where_tree(jcond, nodes: list, manifest: dict, col_of):
    """Catalyst condition (its ``toJSON`` pre-order node list) → tree of
    ``("and"|"or", kids)``, ``("not", kid)`` and ``("atom", dnf,
    not_dnf, in_set)``; an atom's DNFs are None when untranslatable.
    Literal values the JSON renders as text (timestamps, dates) or not
    at all (binary, InSet) are read from the JVM node itself."""
    import datetime as _dt

    it = iter(nodes)

    def build(path):
        n = next(it)
        n["cls"] = n["class"].rsplit(".", 1)[-1]
        n["path"] = path
        n["kids"] = [build(path + (i,)) for i in range(n["num-children"])]
        return n

    def jvm(n):
        obj = jcond
        for i in n["path"]:
            obj = obj.children().apply(i)
        return obj

    def scalar(dtype: str, text: str, jv):
        if dtype in ("byte", "short", "integer", "long"):
            return int(text)
        if dtype in ("float", "double"):
            v = float(np.float32(text)) if dtype == "float" else float(text)
            return None if np.isnan(v) else v
        if dtype == "string":
            return text
        if dtype == "boolean":
            return text == "true"
        if dtype in ("timestamp", "timestamp_ntz"):
            return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=jv())
        if dtype == "date":
            return _dt.date(1970, 1, 1) + _dt.timedelta(days=jv())
        if dtype == "binary":
            return bytes(jv())
        return None  # decimal / complex: no zone bound

    def literal(n):
        if n["cls"] != "Literal" or n.get("value") is None:
            return None
        return scalar(n["dataType"], n["value"], lambda: jvm(n).value())

    def column(n):
        return col_of(n["name"]) if n["cls"] == "AttributeReference" else None

    def atom(dnf=None, not_dnf=None, in_set=None):
        return ("atom", dnf, not_dnf, in_set)

    def envelope(col, vals):
        if not vals or any(v is None for v in vals):
            return atom()
        return atom([[(col, min(vals), max(vals))]], None, (col, vals))

    def leaf_atom(n):
        cls, kids = n["cls"], n["kids"]
        op = _CMP_OPS.get(cls)
        if op and column(kids[0]) is None:
            kids, op = kids[::-1], _FLIP_OP[op]  # lit OP col ≡ col FLIP(OP) lit
        col = column(kids[0]) if kids else None
        if col is None:
            return atom()
        if cls in ("IsNull", "IsNotNull"):
            null, not_null = [[(col, "is_null")]], [[(col, "not_null")]]
            return atom(null, not_null) if cls == "IsNull" else atom(not_null, null)
        if manifest[col]["ptype"] not in _ZONE_PTYPES:
            return atom()
        if cls == "In":
            return envelope(col, [literal(k) for k in kids[1:]])
        if cls == "InSet" and kids[0]["dataType"] != "binary":
            # hset holds Catalyst's internal values (µs, days, UTF8String)
            hset = jvm(n).hset()
            parts = hset.mkString("\0").split("\0")
            if len(parts) != hset.size():
                return atom()
            dtype = kids[0]["dataType"]
            return envelope(
                col, [scalar(dtype, p, lambda p=p: int(p)) for p in parts]
            )
        if cls == "StartsWith" and manifest[col]["ptype"] == "str":
            pref = literal(kids[1])
            if not pref:
                return atom()
            return atom([[(col, pref, _prefix_upper_bytes(pref.encode()))]])
        v = literal(kids[1]) if op else None
        if v is None:
            return atom()
        if op == "=":
            return atom([[(col, v, v)]])
        # a strict bound on an integer is the next integer, inclusive;
        # other strict bounds stay inclusive-conservative (a boundary
        # block survives for the row filter)
        exact = isinstance(v, int) and not isinstance(v, bool)

        def above(strict):
            return [[(col, v + 1 if strict and exact else v, None)]]

        def below(strict):
            return [[(col, None, v - 1 if strict and exact else v)]]

        if op in (">", ">="):
            return atom(above(op == ">"), below(op == ">="))
        return atom(below(op == "<"), above(op == "<="))

    def refs(n) -> set:
        own = {column(n)} if n["cls"] == "AttributeReference" else set()
        return own.union(*(refs(k) for k in n["kids"]))

    def conjuncts(n) -> list:
        if n["cls"] != "And":
            return [n]
        return [c for k in n["kids"] for c in conjuncts(k)]

    def tr(n):
        if n["cls"] == "And":
            # Catalyst infers IS NOT NULL next to each null-intolerant
            # conjunct: drop one whose column another conjunct of the
            # same AND references (widening an AND is always sound), so
            # branches keep the form the predicate was written in
            cs = conjuncts(n)
            implied = {
                id(c) for c in cs if c["cls"] == "IsNotNull" and any(
                    column(c["kids"][0]) in refs(o) for o in cs if o is not c
                )
            }
            return ("and", [tr(c) for c in cs if id(c) not in implied])
        if n["cls"] == "Or":
            return ("or", [tr(k) for k in n["kids"]])
        if n["cls"] == "Not":
            return ("not", tr(n["kids"][0]))
        try:
            return leaf_atom(n)
        except (ValueError, *_JVM_ERRORS):  # unexpected literal form
            return atom()

    return tr(build(()))


def _dnf(t, neg: bool):
    """DNF of tree ``t`` (of its negation when ``neg``), None = TRUE."""
    kind = t[0]
    if kind == "not":
        return _dnf(t[1], not neg)
    if kind == "atom":
        return t[2] if neg else t[1]
    subs = [_dnf(k, neg) for k in t[1]]
    if (kind == "and") != neg:  # conjunction: distribute, skip TRUE factors
        acc: list[list[tuple]] = [[]]
        for s in subs:
            if s:
                acc = [a + b for a in acc for b in s]
                if len(acc) > _MAX_DNF_BRANCHES:
                    return None
        return acc if acc != [[]] else None
    if any(not s for s in subs):  # one unprunable arm: rows hide anywhere
        return None
    out = [b for s in subs for b in s]
    return out if len(out) <= _MAX_DNF_BRANCHES else None


def decode_where(
    spark,
    blocks,
    manifest: dict,
    where: "str | CompiledWhere",
    columns: list[str] | None = None,
    paths: list[str] | None = None,
    bloom=None,
) -> DataFrame:
    """The 100 TB slice API: decode only the rows matching a SQL boolean
    expression. :func:`compile_where` turns it into zone-map block
    filters (whole blocks whose min/max cannot overlap are never read) —
    including OR expressions, as a disjunction of conjunctions (each OR
    branch prunes independently; the qualifying block sets are unioned).
    The FULL expression is then applied exactly on the decoded rows, and
    ``columns`` projects the result (the columns the predicate references
    are decoded for the filter and dropped after). ``where`` may be a
    :class:`CompiledWhere` a caller already holds for this manifest.

    ``blocks`` is a blocks directory (shuffle-free per-file bulk decode)
    or a blocks DataFrame (shuffled :func:`decode_table` path); ``bloom``
    (a Bloom plan of the same predicate) applies to the former only."""
    cw = (
        where
        if isinstance(where, CompiledWhere)
        else compile_where(spark, where, manifest)
    )
    need = columns
    if columns is not None:
        columns = list(columns)
        need = columns + [c for c in cw.columns if c not in columns]
    if isinstance(blocks, str):
        dec = decode_parquet_blocks(
            spark, blocks, manifest, columns=need,
            block_filter=cw.dnf or None, paths=paths, bloom=bloom,
        )
    else:
        dec = decode_table(
            blocks, manifest, columns=need, block_filter=cw.dnf or None
        )
    out = dec.filter(cw.where)
    if need != columns:  # drop the columns decoded only for the filter
        out = out.select(*columns)
    return out
