"""Approximate-NDV column statistics over encoded state dirs — a
HyperLogLog sketch sidecar, the Iceberg-Puffin table-statistics analog
(Iceberg stores datasketches blobs per column for its cost-based
planners; this stores stdlib-built HLL registers per (blocks file,
column) under ``<state>/ndvstats/``).

Same lifecycle as the Bloom sidecar (``plans/bloomidx.py``): built by a
separate maintenance pass (:func:`build_ndv_stats` — the encode hot path
is untouched), extended incrementally (:func:`refresh_ndv_stats`, cost
scales with NEW files only), advisory in every direction (staleness only
makes the estimate stale, never a read wrong).

Why per FILE: HLL registers merge by elementwise max, so per-file
sketches give (a) a table-level NDV from one distributed merge, (b)
NDV-per-file for skew diagnosis, and (c) append-only refresh — exactly
the property Iceberg exploits with per-snapshot sketch blobs. The merge
itself stays distributed: the estimator only needs ``sum(2^-reg)`` and
the zero-register count, both computed by groupBy over the exploded
(column, position, register) rows — registers are never collected.

Estimator: standard HLL (Flajolet et al. 2007) with the small-range
linear-counting correction; 64-bit md5 hashes (the package's stdlib hash
everywhere) need no large-range correction. lg_k=12 → 4096 registers →
~1.6% standard error, 4 KiB per (file, column).

Reference analog: d6tstack samples ``nrows_preview`` rows per file to
decide schema (combine_csv.py:108-179); this keeps per-file VALUE
statistics the same shape — sniff once per file, merge table-wide.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from d6tstack_spark.plans.bloomidx import (
    _INDEXABLE_PTYPES,
    _canonical_bytes,
)

LG_K_DEFAULT = 12  # 4096 registers: ~1.6% standard error, 4 KiB/row


def _ndv_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "ndvstats")


def _ndv_meta_path(state_dir: str) -> str:
    return os.path.join(_ndv_dir(state_dir), "meta.json")


def _ndv_data_dir(state_dir: str) -> str:
    return os.path.join(_ndv_dir(state_dir), "data")


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


def _sketch_df(
    spark: SparkSession, paths: list[str], columns: list[str],
    pmeta: dict, lg_k: int,
):
    """One applyInPandas group per (blocks file, column): decode only
    that column's payloads, hash the DISTINCT values (the same
    md5-derived 64-bit hash the Bloom index uses), fill HLL registers.
    Work is cardinality-bounded per block, exactly like the Bloom build."""

    def _build(key, pdf):
        import pandas as pd
        import pyarrow as pa

        pa.set_cpu_count(1)
        from d6tstack_spark.operators.encode import _block_distinct_values

        fpath, col = key
        m = pmeta[col]
        seen: set = set()
        for r in pdf.itertuples(index=False):
            vals = _block_distinct_values(
                m["ptype"], r.codec, r.params, int(r.n_rows),
                int(r.null_count), r.payload,
            )
            for v in vals:
                b = _canonical_bytes(v, m)
                if b is not None:
                    seen.add(b)
        hashes = np.fromiter(
            (
                int.from_bytes(hashlib.md5(b).digest()[:8], "little")
                for b in seen
            ),
            dtype=np.uint64,
            count=len(seen),
        )
        regs = _hll_registers(hashes, lg_k)
        return pd.DataFrame(
            {
                "file": [os.path.basename(fpath)],
                "column": [col],
                "n_distinct_file": [len(seen)],
                "regs": [regs.astype(np.int32).tolist()],
            }
        )

    rows = (
        spark.read.parquet(*paths)
        .filter(F.col("column").isin(columns))
        .select(
            F.input_file_name().alias("f"),
            "column",
            "codec",
            "params",
            "payload",
            "n_rows",
            "null_count",
        )
    )
    return rows.groupBy("f", "column").applyInPandas(
        _build,
        schema="file string, column string, n_distinct_file long, "
        "regs array<int>",
    )


def build_ndv_stats(
    spark: SparkSession,
    state_dir: str,
    columns: list[str] | tuple[str, ...],
    lg_k: int = LG_K_DEFAULT,
) -> dict:
    """Build (or rebuild) the NDV sketch sidecar for ``columns``. The
    whole sidecar is rewritten, so a rebuild also forgets files a rewrite
    retired. Sketchable types = the Bloom-indexable set (strings, binary,
    integer-physicalized — timestamps/dates/bools included)."""
    from d6tstack_spark.operators.encode import _hadoop_list_files
    from d6tstack_spark.plans.checkpoint import (
        _blocks_dir,
        _purge_journal_path,
        load_manifest,
    )

    if os.path.exists(_purge_journal_path(state_dir)):
        raise RuntimeError(
            f"state dir {state_dir} has an in-flight purge commit journal; "
            "run plans.maintenance.purge_deletes() first, then sketch"
        )
    if not (12 <= int(lg_k) <= 18):
        raise ValueError(f"lg_k must be in [12, 18]: {lg_k}")
    manifest = load_manifest(state_dir)
    columns = list(columns)
    if not columns:
        raise ValueError("columns is empty — nothing to sketch")
    missing = [c for c in columns if c not in manifest]
    if missing:
        raise ValueError(f"columns not in manifest: {missing}")
    bad = [
        c for c in columns if manifest[c]["ptype"] not in _INDEXABLE_PTYPES
    ]
    if bad:
        raise ValueError(
            f"columns {bad} have un-sketchable types "
            f"({[manifest[c]['ptype'] for c in bad]}); NDV sketches cover "
            "strings, binary and integer-physicalized columns"
        )
    bd = _blocks_dir(state_dir)
    paths = sorted(_hadoop_list_files(spark, bd, ".parquet"))
    if not paths:
        raise ValueError(f"no blocks parquet files under {bd}")
    pmeta = {c: dict(manifest[c]) for c in columns}
    df = _sketch_df(spark, paths, columns, pmeta, int(lg_k))
    dd = _ndv_data_dir(state_dir)
    df.write.mode("overwrite").parquet(dd)
    _fill_gaps(spark, dd, paths, columns, int(lg_k))
    meta = {
        "lg_k": int(lg_k),
        "columns": sorted(columns),
        "built_ts": time.time(),
    }
    mp = _ndv_meta_path(state_dir)
    with open(mp + ".tmp", "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(mp + ".tmp", mp)
    n_files = spark.read.parquet(dd).select("file").distinct().count()
    return {"files_sketched": int(n_files), "columns": sorted(columns)}


def refresh_ndv_stats(spark: SparkSession, state_dir: str) -> dict:
    """Extend the sidecar to files added since the last build — O(new
    files), the append cadence; a full rebuild is only warranted to
    forget retired files (a stale extra sketch only overestimates)."""
    from d6tstack_spark.operators.encode import _hadoop_list_files
    from d6tstack_spark.plans.checkpoint import (
        _blocks_dir,
        _purge_journal_path,
        load_manifest,
    )

    meta = load_ndv_meta(state_dir)
    if meta is None:
        raise ValueError(
            f"no NDV sidecar under {state_dir}; run build_ndv_stats first"
        )
    if os.path.exists(_purge_journal_path(state_dir)):
        raise RuntimeError(
            f"state dir {state_dir} has an in-flight purge commit journal; "
            "run plans.maintenance.purge_deletes() first, then sketch"
        )
    columns = list(meta["columns"])
    lg_k = int(meta["lg_k"])
    manifest = load_manifest(state_dir)
    pmeta = {c: dict(manifest[c]) for c in columns}
    bd = _blocks_dir(state_dir)
    paths = sorted(_hadoop_list_files(spark, bd, ".parquet"))
    dd = _ndv_data_dir(state_dir)
    covered = {
        r[0]
        for r in spark.read.parquet(dd).select("file").distinct().collect()
    }
    new_paths = [p for p in paths if os.path.basename(p) not in covered]
    if not new_paths:
        return {"files_refreshed": 0, "columns": sorted(columns)}
    df = _sketch_df(spark, new_paths, columns, pmeta, lg_k)
    df.write.mode("append").parquet(dd)
    _fill_gaps(spark, dd, new_paths, columns, lg_k)
    meta["built_ts"] = time.time()
    mp = _ndv_meta_path(state_dir)
    with open(mp + ".tmp", "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(mp + ".tmp", mp)
    return {"files_refreshed": len(new_paths), "columns": sorted(columns)}


def _fill_gaps(
    spark: SparkSession, dd: str, paths: list[str], columns: list[str],
    lg_k: int,
) -> None:
    """Cover EVERY listed file: zero-row part files and files lacking a
    column entirely (pre-evolution) produce no sketch group; all-zero
    registers are the sound record (the file contributes no values), and
    leaving them out would make refresh re-sketch them forever."""
    covered = {
        (r[0], r[1])
        for r in spark.read.parquet(dd).select("file", "column").collect()
    }
    gaps = [
        (os.path.basename(p), c)
        for p in paths
        for c in columns
        if (os.path.basename(p), c) not in covered
    ]
    if gaps:
        zero = [0] * (1 << lg_k)
        spark.createDataFrame(
            [(f, c, 0, zero) for f, c in gaps],
            schema="file string, column string, n_distinct_file long, "
            "regs array<int>",
        ).coalesce(1).write.mode("append").parquet(dd)


def load_ndv_meta(state_dir: str) -> dict | None:
    mp = _ndv_meta_path(state_dir)
    if not os.path.exists(mp):
        return None
    with open(mp) as f:
        return json.load(f)


def ndv_estimates(
    spark: SparkSession, state_dir: str, live_only: bool = True
) -> DataFrame:
    """Table-level NDV per sketched column as a DataFrame ``(column,
    files, ndv_estimate)``. The register merge is DISTRIBUTED: explode
    (position, register), take the per-position max across files, then
    reduce to the estimator's two sufficient statistics — the registers
    never reach the driver. ``live_only`` drops sketch rows of files no
    longer in the blocks dir (retired by a rewrite), so estimates track
    the live table without a rebuild; a rewrite that SPLITS values across
    new un-sketched files simply leaves those files uncounted until
    :func:`refresh_ndv_stats` — advisory, like every sidecar here."""
    from d6tstack_spark.operators.encode import _hadoop_list_files
    from d6tstack_spark.plans.checkpoint import _blocks_dir

    meta = load_ndv_meta(state_dir)
    if meta is None:
        raise ValueError(
            f"no NDV sidecar under {state_dir}; run build_ndv_stats first"
        )
    lg_k = int(meta["lg_k"])
    m = 1 << lg_k
    df = spark.read.parquet(_ndv_data_dir(state_dir))
    if live_only:
        live = [
            os.path.basename(p)
            for p in _hadoop_list_files(
                spark, _blocks_dir(state_dir), ".parquet"
            )
        ]
        # broadcast semi join, not isin: an In expression with 10^5+
        # literals (one per live file) blows up plan construction — same
        # fix as bloomidx's left_anti on retired files
        live_df = spark.createDataFrame(
            [(b,) for b in live], schema="file string"
        )
        df = df.join(F.broadcast(live_df), "file", "leftsemi")
    merged = (
        df.select(
            "column", F.posexplode("regs").alias("pos", "r")
        )
        .groupBy("column", "pos")
        .agg(F.max("r").alias("r"))
        .groupBy("column")
        .agg(
            F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("s"),
            F.sum(F.when(F.col("r") == 0, 1).otherwise(0)).alias("v"),
        )
    )
    files = df.groupBy("column").agg(
        F.countDistinct("file").alias("files")
    )
    rows = merged.join(files, "column").collect()  # one row per column
    out = [
        (
            r["column"],
            int(r["files"]),
            round(_hll_estimate(m, float(r["s"]), int(r["v"])), 1),
        )
        for r in rows
    ]
    return spark.createDataFrame(
        out, schema="column string, files long, ndv_estimate double"
    )
