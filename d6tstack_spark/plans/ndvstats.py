"""Approximate-NDV column statistics over encoded state dirs — a
HyperLogLog sketch sidecar, the Iceberg-Puffin table-statistics analog
(Iceberg stores datasketches blobs per column for its cost-based
planners; this stores stdlib-built HLL registers per (blocks file,
column) under ``<state>/ndvstats/``).

Same lifecycle and layout as the Bloom sidecar (``plans/bloomidx.py``),
and built by the same per-file task (:func:`bloomidx._index_files`):
:func:`build_ndv_stats` is a separate maintenance pass (the encode hot
path is untouched), :func:`refresh_ndv_stats` extends it to new files
only, and staleness only makes the estimate stale, never a read wrong.
The task folds the md5 of each distinct value of a (file, column) into
``2^lg_k`` uint8 registers and writes them as the blob
``ndvstats/<column>/<basename>.hll`` (an 8-byte ``n_distinct`` header,
then the registers); empty and column-less files get zero registers.

Why per FILE: HLL registers merge by elementwise max, so per-file
sketches give (a) a table-level NDV from one merge, (b) NDV-per-file for
skew diagnosis, and (c) append-only refresh — exactly the property
Iceberg exploits with per-snapshot sketch blobs. :func:`ndv_estimates`
merges in one shuffle-free job: each task max-merges its slice of the
listed blobs into one register array per column, and the driver merges
those (at most one per task and column) and applies the estimator.

Estimator: standard HLL (Flajolet et al. 2007) with the small-range
linear-counting correction; 64-bit md5 hashes (the package's stdlib hash
everywhere) need no large-range correction. lg_k=12 → 4096 registers →
~1.6% standard error, 4 KiB per (file, column).

Reference analog: d6tstack samples ``nrows_preview`` rows per file to
decide schema (combine_csv.py:108-179); this keeps per-file VALUE
statistics the same shape — sniff once per file, merge table-wide.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from d6tstack_spark.plans.bloomidx import (
    _LAYOUT,
    _blob_fs,
    _blob_path,
    _blob_root,
    _build,
    _covered_pairs,
    _extend,
    _read_meta,
    _Side,
)

LG_K_DEFAULT = 12  # 4096 registers: ~1.6% standard error, 4 KiB/blob


def _bit_length_u64(w: np.ndarray) -> np.ndarray:
    """Exact vectorized bit_length for uint64 (log2-via-float rounds wrong
    near powers of two above 2^53)."""
    bl = np.zeros(w.shape, dtype=np.int64)
    x = w.copy()
    for s in (32, 16, 8, 4, 2, 1):
        t = x >> np.uint64(s)
        m = t != 0
        bl[m] += s
        x[m] = t[m]
    bl[w != 0] += 1
    return bl


def _hll_registers(hashes: np.ndarray, lg_k: int) -> np.ndarray:
    """Dense HLL registers (uint8) from 64-bit hashes: top lg_k bits pick
    the register, rho = leading-zero count of the remaining bits + 1."""
    k = 1 << lg_k
    regs = np.zeros(k, dtype=np.uint8)
    if len(hashes) == 0:
        return regs
    idx = (hashes >> np.uint64(64 - lg_k)).astype(np.int64)
    w = hashes << np.uint64(lg_k)  # remaining bits, left-aligned
    rho = (64 - _bit_length_u64(w) + 1).astype(np.uint8)
    rho[w == 0] = 64 - lg_k + 1
    np.maximum.at(regs, idx, rho)
    return regs


def _hll_fold(h: np.ndarray, bits: int) -> np.ndarray:
    """The NDV sidecar's fold: registers of the md5 low halves (the
    64-bit hash is ``md5[:8]`` little-endian), ``bits/8`` of them."""
    return _hll_registers(h[:, 0], (bits // 8).bit_length() - 1)


_NDV = _Side("ndvstats", ".hll", _hll_fold, "sketch")


def _hll_estimate(m: int, sum_pow: float, n_zero: int) -> float:
    """NDV from the merged registers' sufficient statistics: register
    count m, sum(2^-reg), and the zero-register count (linear counting
    below 2.5m, per the HLL paper)."""
    if m <= 0:
        return 0.0
    alpha = 0.7213 / (1 + 1.079 / m) if m >= 128 else 0.697
    e = alpha * m * m / sum_pow
    if e <= 2.5 * m and n_zero > 0:
        e = m * float(np.log(m / n_zero))
    return float(e)


def build_ndv_stats(
    spark: SparkSession,
    state_dir: str,
    columns: list[str] | tuple[str, ...],
    lg_k: int = LG_K_DEFAULT,
) -> dict:
    """Build (or rebuild) the NDV sketch sidecar for ``columns`` in one
    task pass over the blocks files. The whole sidecar is rewritten, so
    a rebuild also forgets files a rewrite retired. Sketchable types =
    the Bloom-indexable set (strings, binary, integer-physicalized —
    timestamps/dates/bools included)."""
    if not (12 <= int(lg_k) <= 18):
        raise ValueError(f"lg_k must be in [12, 18]: {lg_k}")
    lg_k = int(lg_k)
    n = _build(spark, state_dir, _NDV, columns, 8 << lg_k, {"lg_k": lg_k})
    return {"files_sketched": n, "columns": sorted(columns)}


def refresh_ndv_stats(spark: SparkSession, state_dir: str) -> dict:
    """Extend the sidecar to files added since the last build — O(new
    files), the append cadence, and no job when nothing is new; a full
    rebuild is only warranted to forget retired files (a stale extra
    sketch only overestimates). A sidecar of the older parquet layout is
    rebuilt in full."""
    meta = _read_meta(state_dir, _NDV)
    if meta is None:
        raise ValueError(
            f"no NDV sidecar under {state_dir}; run build_ndv_stats first"
        )
    columns, lg_k = list(meta["columns"]), int(meta["lg_k"])
    if meta.get("layout") != _LAYOUT:
        rep = build_ndv_stats(spark, state_dir, columns, lg_k)
        return {
            "files_refreshed": rep["files_sketched"],
            "columns": rep["columns"],
        }
    n = _extend(spark, state_dir, _NDV, meta, 8 << lg_k)
    return {"files_refreshed": n, "columns": sorted(columns)}


def load_ndv_meta(state_dir: str) -> dict | None:
    """The sidecar's meta when reads may use it (the blob layout); None
    without one or for an older parquet sidecar."""
    meta = _read_meta(state_dir, _NDV)
    if meta is None or meta.get("layout") != _LAYOUT:
        return None
    return meta


def ndv_estimates(
    spark: SparkSession, state_dir: str, live_only: bool = True
) -> DataFrame:
    """Table-level NDV per sketched column as a DataFrame ``(column,
    files, ndv_estimate)``, from the blobs a listing finds at the
    sidecar's size. The register merge is one shuffle-free job: each
    task max-merges its slice of the blobs per column, and the driver
    merges the per-task arrays. ``live_only`` keeps only the blobs of
    files in the blocks dir (retired ones drop out), so estimates track
    the live table without a rebuild; a rewrite that SPLITS values
    across new un-sketched files simply leaves those files uncounted
    until :func:`refresh_ndv_stats` — advisory, like every sidecar
    here."""
    from d6tstack_spark.operators.encode import _hadoop_list_files, map_slices
    from d6tstack_spark.plans.checkpoint import _blocks_dir

    meta = load_ndv_meta(state_dir)
    if meta is None:
        raise ValueError(
            f"no NDV sidecar under {state_dir}; run build_ndv_stats first"
        )
    m = 1 << int(meta["lg_k"])
    pairs = _covered_pairs(state_dir, meta["columns"], 8 * m, _NDV)
    if live_only:
        live = {
            os.path.basename(p)
            for p in _hadoop_list_files(
                spark, _blocks_dir(state_dir), ".parquet"
            )
        }
        pairs = {(f, c) for f, c in pairs if f in live}
    root = _blob_root(state_dir, _NDV)

    def merge(batches):
        fs, base = _blob_fs(root)
        acc: dict[str, np.ndarray] = {}
        for b in batches:
            for name, col in zip(
                b.column("file").to_pylist(), b.column("column").to_pylist()
            ):
                path = _blob_path(base, col, name, _NDV)
                with fs.open_input_file(path) as f:
                    regs = np.frombuffer(f.read_at(m, 8), np.uint8)
                r = acc.setdefault(col, np.zeros(m, np.uint8))
                np.maximum(r, regs, out=r)
        yield pa.RecordBatch.from_pydict(
            {"column": list(acc), "regs": [r.tobytes() for r in acc.values()]},
            schema=pa.schema([("column", pa.string()), ("regs", pa.binary())]),
        )

    n_tasks = min(len(pairs), spark.sparkContext.defaultParallelism)
    merged: dict[str, np.ndarray] = {}
    for r in map_slices(
        spark, sorted(pairs), n_tasks, merge,
        "column string, regs binary", "file string, column string",
    ).collect():
        regs = np.frombuffer(r["regs"], np.uint8)
        merged[r["column"]] = np.maximum(merged.get(r["column"], regs), regs)
    files = Counter(c for _, c in pairs)
    cols = sorted(merged)
    est = []
    for c in cols:
        regs = merged[c]
        sum_pow = float(np.ldexp(1.0, -regs.astype(np.int64)).sum())
        e = _hll_estimate(m, sum_pow, int((regs == 0).sum()))
        est.append(round(e, 1))
    # from an Arrow table, so collecting the result runs no Spark job
    return spark.createDataFrame(
        pa.table(
            [cols, [files[c] for c in cols], est],
            schema=pa.schema(
                [("column", pa.string()), ("files", pa.int64()),
                 ("ndv_estimate", pa.float64())]
            ),
        )
    )
