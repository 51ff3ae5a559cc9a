"""Bloom-filter file index over encoded state dirs — point-lookup pruning
on columns the zone maps cannot help with.

Zone maps prune by [min, max]: perfect on the clustering key, useless for
``conv_id = 'x'`` on a time-ordered table where every file's conv range
spans the alphabet. This sidecar closes that gap the way Iceberg's Puffin
blobs do: one Bloom bitmap per (blocks file, column), built by a separate
maintenance pass (:func:`build_bloom_index` — the encode hot path is
untouched), stored as parquet ``array<long>`` words under
``<state>/bloomidx/``. At read time :func:`~d6tstack_spark.plans.
checkpoint.decode_state` consults it automatically: equality / IN atoms in
the WHERE's zone DNF probe the bitmaps IN SPARK (``element_at`` +
shift/mask — no driver-side index scan), and only files the index
positively rules out are dropped.

Correctness never depends on the index — it is advisory in every
direction. Files with no index row (appended after the build, or a
rewrite's replacements) are always kept; a branch of the DNF with no
indexed point atom keeps everything; false positives only cost I/O. A
file a bitmap rules out truly cannot contain the value (no false
negatives: the build hashes every distinct value of the file). Staleness
therefore only ever WIDENS the read set; rebuild after heavy churn to
restore selectivity.

Scale: the index is ~``m_bits/8`` bytes per (file, column) — at the
default 2 MiB-bit (256 KiB) sizing, a 100 TB dir with 10⁵ files carries a
~25 GB sidecar per column, scanned distributedly at probe time (a
metadata-sized job) and never collected; only the surviving file NAMES
reach the driver. fpp at the default sizing stays <1% up to ~150k
distinct values per file.

Reference analog: d6tstack has no secondary index; this generalizes its
"sniff once, reuse per file" metadata pattern (csv_sniff_all,
combine_csv.py) to value-membership metadata.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
import time

from pyspark.sql import SparkSession

BLOOM_K = 6
DEFAULT_M_BITS = 1 << 21  # 256 KiB per (file, column); fpp<1% @ ~150k NDV

_INDEXABLE_PTYPES = ("str", "bin", "i8", "i16", "i32", "i64")

# one row per (blocks file, column); readers pass it so no scan of the
# sidecar pays a schema-inference job
_INDEX_SCHEMA = (
    "file string, column string, n_distinct long, bloom array<long>"
)


def _bloom_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "bloomidx")


def _bloom_meta_path(state_dir: str) -> str:
    return os.path.join(_bloom_dir(state_dir), "meta.json")


def _bloom_data_dir(state_dir: str) -> str:
    return os.path.join(_bloom_dir(state_dir), "data")


def _read_index(spark: SparkSession, dd: str):
    return spark.read.schema(_INDEX_SCHEMA).parquet(dd)


def _positions(data: bytes, m_bits: int) -> list[int]:
    """k Bloom bit positions via double hashing over one md5 — the same
    stdlib-only construction the dedup operators use, so build and probe
    cannot drift."""
    d = hashlib.md5(data).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:16], "little") | 1  # odd → full-period stride
    return [(h1 + i * h2) % m_bits for i in range(BLOOM_K)]


def _canonical_bytes(value, m: dict) -> bytes | None:
    """PHYSICAL column value → hash input. None = not hashable here
    (conservative: the caller must treat the atom as unprunable)."""
    ptype = m["ptype"]
    if ptype == "str":
        return value.encode() if isinstance(value, str) else None
    if ptype == "bin":
        return bytes(value) if isinstance(value, (bytes, bytearray)) else None
    if ptype in ("i8", "i16", "i32", "i64"):
        if isinstance(value, bool) or not isinstance(value, int):
            return None
        try:
            return struct.pack("<q", value)
        except struct.error:
            return None
    return None


def _to_physical(value, m: dict):
    """Logical query literal (what ``compile_where`` yields: naive UTC
    datetimes from Catalyst's resolved µs, dates from its days) →
    physical stored value, mirroring ``operators.encode._physicalize``:
    ts/ts_ntz → µs since epoch, date → days since epoch, bool → int."""
    import datetime as _dt

    logical = m.get("logical")
    if logical in ("ts", "ts_ntz"):
        if not isinstance(value, _dt.datetime):
            return None
        base = value
        if base.tzinfo is not None:
            if logical == "ts":  # ts_ntz keeps the wall clock as written
                base = base.astimezone(_dt.timezone.utc)
            base = base.replace(tzinfo=None)
        return round(
            (base - _dt.datetime(1970, 1, 1)) / _dt.timedelta(microseconds=1)
        )
    if logical == "date":
        if isinstance(value, _dt.datetime) or not isinstance(value, _dt.date):
            return None
        return (value - _dt.date(1970, 1, 1)).days
    if logical == "bool":
        return int(value) if isinstance(value, (bool, int)) else None
    return value


def _probe_bytes(value, m: dict) -> bytes | None:
    """Logical value → the bytes its Bloom probe hashes, or None when
    the Bloom cannot speak for it (NULL, unconvertible)."""
    phys = None if value is None else _to_physical(value, m)
    return None if phys is None else _canonical_bytes(phys, m)


def build_bloom_index(
    spark: SparkSession,
    state_dir: str,
    columns: list[str] | tuple[str, ...],
    m_bits: int = DEFAULT_M_BITS,
) -> dict:
    """Build (or rebuild) the Bloom sidecar for ``columns`` — one task
    pass over the blocks files (:func:`_index_files`): each task decodes
    only the indexed columns' payloads of its files, hashes the DISTINCT
    values (cardinality-bounded work), and ORs the per-block bitmaps. One
    output row per listed (file, column); the whole sidecar is rewritten,
    so a rebuild also forgets files a rewrite retired.

    Indexable column types: strings, binary, integers (including
    timestamp/date/bool columns, which physicalize to ints). Float and
    list columns are refused — point equality on them is not a pruning
    pattern."""
    from d6tstack_spark.operators.encode import _hadoop_list_files
    from d6tstack_spark.plans.checkpoint import (
        _blocks_dir,
        _purge_journal_path,
        load_manifest,
    )

    if os.path.exists(_purge_journal_path(state_dir)):
        raise RuntimeError(
            f"state dir {state_dir} has an in-flight purge commit journal; "
            "run plans.maintenance.purge_deletes() first, then index"
        )
    manifest = load_manifest(state_dir)
    columns = list(columns)
    if not columns:
        raise ValueError("columns is empty — nothing to index")
    missing = [c for c in columns if c not in manifest]
    if missing:
        raise ValueError(f"columns not in manifest: {missing}")
    bad = [
        c for c in columns if manifest[c]["ptype"] not in _INDEXABLE_PTYPES
    ]
    if bad:
        raise ValueError(
            f"columns {bad} have un-indexable types "
            f"({[manifest[c]['ptype'] for c in bad]}); Bloom point lookup "
            "covers strings, binary and integer-physicalized columns"
        )
    if m_bits % 64 or m_bits < 64:
        raise ValueError(f"m_bits must be a positive multiple of 64: {m_bits}")
    bd = _blocks_dir(state_dir)
    paths = sorted(_hadoop_list_files(spark, bd, ".parquet"))
    if not paths:
        raise ValueError(f"no blocks parquet files under {bd}")

    mb = int(m_bits)
    dd = _bloom_data_dir(state_dir)
    work = [(p, list(columns)) for p in paths]
    _index_files(spark, work, manifest, mb).write.mode("overwrite").parquet(dd)
    meta = {
        "m_bits": mb,
        "k": BLOOM_K,
        "columns": sorted(columns),
        "built_ts": time.time(),
    }
    mp = _bloom_meta_path(state_dir)
    with open(mp + ".tmp", "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(mp + ".tmp", mp)
    # the build writes a row for every listed (file, column)
    return {"files_indexed": len(paths), "columns": sorted(columns)}


def refresh_bloom_index(spark: SparkSession, state_dir: str) -> dict:
    """Incrementally extend the sidecar to files added since the last
    build/refresh — cost scales with the NEW data, not the table (the
    maintenance cadence a streamed or resumed 100 TB dir needs; a full
    :func:`build_bloom_index` is only warranted to also FORGET files a
    rewrite retired). Columns and sizing come from the recorded meta;
    already-covered (file, column) rows are never rewritten."""
    from d6tstack_spark.operators.encode import _hadoop_list_files
    from d6tstack_spark.plans.checkpoint import (
        _blocks_dir,
        _purge_journal_path,
        load_manifest,
    )

    meta = load_bloom_meta(state_dir)
    if meta is None:
        raise ValueError(
            f"no Bloom index under {state_dir}; run build_bloom_index first"
        )
    if os.path.exists(_purge_journal_path(state_dir)):
        raise RuntimeError(
            f"state dir {state_dir} has an in-flight purge commit journal; "
            "run plans.maintenance.purge_deletes() first, then index"
        )
    columns = list(meta["columns"])
    mb = int(meta["m_bits"])
    bd = _blocks_dir(state_dir)
    paths = sorted(_hadoop_list_files(spark, bd, ".parquet"))
    dd = _bloom_data_dir(state_dir)
    covered = {
        (r[0], r[1])
        for r in _read_index(spark, dd).select("file", "column").collect()
    }
    # a partially-covered file indexes only its missing columns, so the
    # sidecar stays duplicate-free
    work = []
    for p in paths:
        b = os.path.basename(p)
        todo = [c for c in columns if (b, c) not in covered]
        if todo:
            work.append((p, todo))
    if not work:
        return {"files_refreshed": 0, "columns": sorted(columns)}
    _index_files(spark, work, load_manifest(state_dir), mb).write.mode(
        "append"
    ).parquet(dd)
    meta["built_ts"] = time.time()
    mp = _bloom_meta_path(state_dir)
    with open(mp + ".tmp", "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(mp + ".tmp", mp)
    return {"files_refreshed": len(work), "columns": sorted(columns)}


def _index_files(
    spark: SparkSession,
    work: list[tuple[str, list[str]]],
    manifest: dict,
    mb: int,
):
    """The distributed index build: one task pass over the blocks files
    of ``work`` (``(path, columns)`` pairs), at most one task per core and
    no exchange. Each task streams its files' column rows for ``columns``
    with pyarrow, decodes the payloads, hashes the DISTINCT values
    (cardinality-bounded work) and ORs them into one bitmap per (file,
    column). EVERY listed pair gets a row: an empty part file or a file
    written before a column existed yields a zero bitmap — the sound
    record, since no equality probe can match a file holding no value of
    the column, and a missing row would leave it permanently
    unprunable."""
    pmeta = {c: dict(manifest[c]) for _, cols in work for c in cols}

    def build(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        from d6tstack_spark.codecs.blocks import (
            decode_block,
            decode_block_arrow,
        )
        from d6tstack_spark.operators.encode import _decode_arrow_fallback

        def values(r, ptype):
            n, nc = r["n_rows"], r["null_count"]
            if ptype == "any" or r["codec"] == "arrow":
                arr = _decode_arrow_fallback(r["payload"])
                return arr.drop_null().unique().to_pylist()
            if ptype in ("str", "bin"):
                arr = decode_block_arrow(
                    r["payload"], r["params"], r["codec"], n, nc, ptype
                )
                vals = arr.drop_null().unique().to_pylist()
                if ptype == "str":
                    vals = [
                        v if isinstance(v, str) else v.decode() for v in vals
                    ]
                return vals
            vals, valid = decode_block(
                r["payload"], r["params"], r["codec"], n, nc, ptype
            )
            return np.unique(vals[valid]).tolist()

        for b in batches:
            for path, cols in zip(
                b.column("path").to_pylist(), b.column("cols").to_pylist()
            ):
                words = {c: np.zeros(mb // 64, dtype=np.uint64) for c in cols}
                seen: dict[str, set] = {c: set() for c in cols}
                want = pa.array(cols, pa.string())
                # small batches: payloads are multi-MB, so peak memory is
                # one batch of them, not the whole file
                for rb in pq.ParquetFile(path).iter_batches(
                    batch_size=16,
                    columns=[
                        "column", "codec", "params", "payload", "n_rows",
                        "null_count",
                    ],
                    use_threads=False,
                ):
                    rb = rb.filter(
                        pc.is_in(rb.column("column"), value_set=want)
                    )
                    for r in rb.to_pylist():
                        if r["null_count"] >= r["n_rows"]:
                            continue
                        col = r["column"]
                        m = pmeta[col]
                        w, s = words[col], seen[col]
                        for v in values(r, m["ptype"]):
                            h = _canonical_bytes(v, m)
                            if h is None or h in s:
                                continue
                            s.add(h)
                            for pos in _positions(h, mb):
                                w[pos >> 6] |= np.uint64(1 << (pos & 63))
                bits = np.concatenate([words[c] for c in cols])
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([os.path.basename(path)] * len(cols)),
                        want,
                        pa.array([len(seen[c]) for c in cols], pa.int64()),
                        pa.ListArray.from_arrays(
                            pa.array(
                                np.arange(len(cols) + 1, dtype=np.int32)
                                * (mb // 64)
                            ),
                            pa.array(bits.view(np.int64)),
                        ),
                    ],
                    names=["file", "column", "n_distinct", "bloom"],
                )

    from d6tstack_spark.operators.encode import map_slices

    n_tasks = min(len(work), spark.sparkContext.defaultParallelism)
    return map_slices(
        spark, work, n_tasks, build, _INDEX_SCHEMA,
        "path string, cols array<string>",
    )


def load_bloom_meta(state_dir: str) -> dict | None:
    mp = _bloom_meta_path(state_dir)
    if not os.path.exists(mp):
        return None
    with open(mp) as f:
        return json.load(f)


def _miss_sql(col: str, probe: bytes, m_bits: int) -> str:
    """SQL condition on an index row: it is ``col``'s bitmap and the
    bitmap rules ``probe`` out (one of its k bits is clear).
    ``shiftright`` is arithmetic, so bit 63 (sign bit of the stored int64
    word) reads correctly through the ``& 1``; ``try_element_at`` (not
    ``element_at``) so a malformed row yields NULL — which reads as "not
    a miss" = file kept — instead of an ANSI out-of-bounds error."""
    hit = " AND ".join(
        f"(shiftright(try_element_at(bloom, {(pos >> 6) + 1}), {pos & 63})"
        " & 1) = 1"
        for pos in _positions(probe, m_bits)
    )
    lit = col.replace("\\", "\\\\").replace("'", "\\'")
    return f"(`column` = '{lit}' AND NOT ({hit}))"


def _probe_misses(
    spark: SparkSession, state_dir: str, m_bits: int, probes: list[tuple]
) -> list[set] | None:
    """For each ``(col, probe bytes)``, the files whose (size-gated) index
    row for ``col`` rules the probe out — all probes in ONE scan of the
    sidecar, read under its known schema (no inference job), with every
    miss flag in one SQL string. Only rows with some miss reach the
    driver. A file with no row for ``col`` is never in a miss set. None
    when the sidecar cannot be read."""
    try:
        idx = _read_index(spark, _bloom_data_dir(state_dir))
    except Exception:
        return None
    flags = [_miss_sql(col, b, m_bits) for col, b in probes]
    # a row whose bitmap was written under a different m_bits (a crashed
    # rebuild left data/meta mismatched) must not testify: size-gate it,
    # so its file counts as uncovered — conservative in the safe direction
    rows = (
        idx.where(f"size(bloom) = {m_bits // 64} AND ({' OR '.join(flags)})")
        .selectExpr("file", f"array({', '.join(flags)}) AS miss")
        .collect()
    )
    miss: list[set] = [set() for _ in probes]
    for r in rows:
        for i, flag in enumerate(r["miss"]):
            if flag:  # NULL (malformed bitmap) is not a miss
                miss[i].add(r["file"])
    return miss


_MAX_IN_PROBES = 64


def bloom_value_keep(
    spark: SparkSession,
    state_dir: str,
    manifest: dict,
    col: str,
    values: list,
    basenames: list[str],
) -> list[str]:
    """Files that may contain ANY of ``values`` in ``col`` — the
    value-set twin of :func:`bloom_prune_basenames`, for callers that
    hold the values directly (equality-delete key sets) rather than a
    WHERE string. ``values`` are LOGICAL (what a decode returns);
    uncovered files and unconvertible values keep everything, and lists
    longer than ``_MAX_IN_PROBES`` skip the probe — same advisory
    contract as everywhere else."""
    meta = load_bloom_meta(state_dir)
    if (
        meta is None
        or not basenames
        or meta.get("k") != BLOOM_K
        or col not in set(meta["columns"])
        or col not in manifest
        or not values
        or len(values) > _MAX_IN_PROBES
    ):
        return basenames
    m = manifest[col]
    mb = int(meta["m_bits"])
    probes = []
    for v in values:
        b = _probe_bytes(v, m)
        if b is None:
            # NULL or unconvertible value — the Bloom cannot speak for it
            return basenames
        probes.append(b)
    miss = _probe_misses(spark, state_dir, mb, [(col, b) for b in probes])
    if miss is None:
        return basenames
    dead = set.intersection(*miss)  # files where every value misses
    return [b for b in basenames if b not in dead]


def bloom_prune_basenames(
    spark: SparkSession,
    state_dir: str,
    manifest: dict,
    where,
    basenames: list[str],
) -> list[str]:
    """Advisory file pruning for a WHERE clause (a SQL string or the
    :class:`~d6tstack_spark.operators.encode.CompiledWhere` the caller
    already holds): drop basenames the Bloom sidecar proves cannot
    contain a matching row. Sound under the DNF reading of the
    predicate — a file survives iff SOME branch remains possible; a
    branch is ruled out for a file only when one of its equality atoms
    on an indexed column Bloom-misses in that file's bitmap; top-level
    ``IN`` conjuncts (a conjunct constrains every matching row)
    additionally rule a file out when every listed value misses.
    Everything un-indexed, untranslatable, uncovered or non-equality
    passes through untouched, and so do IN lists longer than
    ``_MAX_IN_PROBES``. Returns a subset of ``basenames`` (order
    preserved); with no index or no usable atom, returns it unchanged."""
    meta = load_bloom_meta(state_dir)
    if meta is None or not basenames:
        return basenames
    if meta.get("k") != BLOOM_K:
        return basenames  # built by a different construction — ignore
    from d6tstack_spark.operators.encode import CompiledWhere, compile_where

    cw = (
        where
        if isinstance(where, CompiledWhere)
        else compile_where(spark, where, manifest)
    )
    indexed = set(meta["columns"])
    ins: list[tuple] = []
    for col, vals in cw.in_sets:
        if col not in indexed or len(vals) > _MAX_IN_PROBES:
            continue
        probes = [_probe_bytes(v, manifest[col]) for v in vals]
        if all(b is not None for b in probes):
            ins.append((col, probes))
    if not cw.dnf and not ins:
        return basenames
    mb = int(meta["m_bits"])

    # per branch: (col, probe bytes) for its usable equality atoms.
    # Schema evolution needs no special case here: a pre-evolution file
    # carries a zero bitmap for an evolved column (it decodes the column
    # as all-null, so no equality atom can match it), and uncovered
    # (file, column) pairs always pass.
    branches: list[list[tuple]] = []
    for branch in cw.dnf:
        probes: list[tuple] = []
        for atom in branch:
            if len(atom) != 3 or atom[0] not in indexed:
                continue
            col, lo, hi = atom
            if lo is None or lo != hi:
                continue  # range atom — zone maps handle those
            b = _probe_bytes(lo, manifest[col])
            if b is not None:
                probes.append((col, b))
        branches.append(probes)
    if all(not p for p in branches) and not ins:
        return basenames

    # ---- batched probing: each distinct (column, probe bytes) gets one
    # miss set from a single scan; the DNF/IN set algebra runs on the
    # driver. A file misses a probe iff it HAS a (size-gated) index row
    # for that column whose bitmap rules the value out; files without a
    # row always pass.
    probe_ix: dict[tuple, int] = {}
    for col, probes in ins:
        for b in probes:
            probe_ix.setdefault((col, b), len(probe_ix))
    for probes in branches:
        for col, b in probes:
            probe_ix.setdefault((col, b), len(probe_ix))
    if not probe_ix:
        return basenames
    miss = _probe_misses(spark, state_dir, mb, list(probe_ix))
    if miss is None:
        return basenames
    universe = set(basenames)

    # top-level IN conjuncts constrain every row: a file where ALL the
    # listed values miss leaves the universe outright
    for col, probes in ins:
        all_miss = None
        for b in probes:
            m = miss[probe_ix[(col, b)]]
            all_miss = set(m) if all_miss is None else (all_miss & m)
        universe -= all_miss or set()
    if not universe:
        return []

    # a file is ruled out of a branch iff ANY of the branch's probes
    # MISSES in an existing index row; files without a row always pass.
    # (Stale rows for retired files may land in the miss sets — harmless,
    # the subtraction below only ever touches the live universe.)
    alive: set[str] | None = None
    for probes in branches:
        ruled_out: set[str] = set()
        for col, b in probes:
            ruled_out |= miss[probe_ix[(col, b)]]
        branch_alive = universe - ruled_out
        alive = branch_alive if alive is None else (alive | branch_alive)
        if alive == universe:
            break  # nothing more prunable — stop probing
    if alive is None:  # IN constraints only (no usable DNF branch)
        alive = universe
    return [b for b in basenames if b in alive]
