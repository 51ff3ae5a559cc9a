"""Per-(blocks file, column) blob sidecars over encoded state dirs, and
the Bloom-filter file index built on them — point-lookup pruning on
columns the zone maps cannot help with.

Zone maps prune by [min, max]: perfect on the clustering key, useless for
``conv_id = 'x'`` on a time-ordered table where every file's conv range
spans the alphabet. This sidecar closes that gap the way Iceberg's Puffin
blobs do: one Bloom bitmap per (blocks file, column), built by a separate
maintenance pass (:func:`build_bloom_index` — the encode hot path is
untouched).

One pass serves every sidecar. :func:`_index_files` reads each blocks
file once per build, collects the distinct canonical bytes of each
(file, column), hashes each one md5, and hands the hashes to the
sidecar's fold: Bloom words here, HLL registers for the NDV sketches of
``plans/ndvstats.py``. The layout is shared too:
``<state>/<sidecar>/meta.json`` (sizing, columns and the ``layout``
marker) plus one random-access blob per (blocks file, column) at
``<sidecar>/<quoted column>/<blocks basename><suffix>``: an 8-byte
little-endian ``n_distinct`` followed by the fold's body (for Bloom, the
``m_bits/64`` little-endian uint64 words of the bitmap under
``bloomidx/<column>/<basename>.bloom``). Blobs are published under a
temporary name and renamed into place, opened through ``pyarrow.fs``
(the same URI resolution the blocks reads use), and counted as covering
their pair only at the size the meta's sizing gives. A meta without the
marker is the older parquet sidecar (``<sidecar>/data/``): reads ignore
it, and a refresh rebuilds it.

At read time the probe runs inside the decode task
(:func:`~d6tstack_spark.plans.checkpoint.decode_state`): the driver turns
the compiled WHERE into a :class:`BloomPlan` — per DNF branch its
equality probes as bit positions, plus the top-level IN sets — with no
Spark job and no I/O beyond ``meta.json``, and each task asks
:meth:`BloomPlan.keeps` about its own file before it reads any stats or
payload. A probe costs k ``read_at`` calls of one word each per (file,
probe); a file the plan rules out reads nothing else.

Correctness never depends on the index — it is advisory in every
direction. Files with no blob of the right size (appended after the
build, a rewrite's replacements, a crashed rebuild under another sizing)
are always kept; a branch of the DNF with no indexed point atom keeps
everything; false positives only cost I/O. A file a bitmap rules out truly
cannot contain the value (no false negatives: the build hashes every
distinct value of the file). Staleness therefore only ever WIDENS the
read set; rebuild after heavy churn to restore selectivity.

Scale: a blob is ``8 + m_bits/8`` bytes — at the default 2 MiB-bit
(256 KiB) sizing, a 100 TB dir with 10⁵ files stores ~25 GB per column,
but a point probe reads k = 6 words (48 bytes) per file, spread over the
decode tasks, so its cost is ~6·10⁵ small reads however large the
bitmaps are. Refresh finds uncovered files by listing the blob
directories. fpp at the default sizing stays <1% up to ~150k distinct
values per file.

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
from typing import Callable, NamedTuple
from urllib.parse import quote

import numpy as np
from pyspark.sql import SparkSession

BLOOM_K = 6
DEFAULT_M_BITS = 1 << 21  # 256 KiB per (file, column); fpp<1% @ ~150k NDV

_INDEXABLE_PTYPES = ("str", "bin", "i8", "i16", "i32", "i64")
_LAYOUT = "blob"  # meta.json marker of the per-(file, column) blob layout
_MAX_IN_PROBES = 64


class _Side(NamedTuple):
    """A blob sidecar: its directory under the state dir, its blob
    suffix, its fold — ``(md5 halves of a (file, column)'s distinct
    values as an (n, 2) uint64 array, body bits)`` → the blob body, an
    array of ``bits/8`` bytes — and the verb its messages use."""

    dir: str
    suffix: str
    fold: Callable
    verb: str


def _md5_halves(data) -> np.ndarray:
    """``(h1, h2)`` per bytes value: the little-endian uint64 halves of
    its md5, the one hash every sidecar folds (one md5 per value)."""
    return np.frombuffer(
        b"".join(hashlib.md5(b).digest() for b in data), "<u8"
    ).reshape(-1, 2)


def _bit_positions(h: np.ndarray, m_bits: int) -> np.ndarray:
    """k Bloom bit positions per hash by double hashing, ``(h1 + i·h2)
    mod m_bits`` with h2 forced odd (full-period stride) — the same
    stdlib-md5 construction the dedup operators use. Both halves are
    reduced mod ``m_bits`` first, so the uint64 sum cannot wrap."""
    m = np.uint64(m_bits)
    h1 = h[:, :1] % m
    h2 = (h[:, 1:] | np.uint64(1)) % m
    return (h1 + np.arange(BLOOM_K, dtype=np.uint64) * h2) % m


def _positions(data: bytes, m_bits: int) -> list[int]:
    """The k bit positions of one value — what a probe reads, computed
    by the build's own construction so build and probe cannot drift."""
    return _bit_positions(_md5_halves([data]), m_bits)[0].tolist()


def _bloom_words(h: np.ndarray, m_bits: int) -> np.ndarray:
    """The Bloom fold: the bitmap of the hashes as little-endian uint64
    words."""
    words = np.zeros(m_bits // 64, dtype="<u8")
    pos = _bit_positions(h, m_bits).ravel()
    np.bitwise_or.at(
        words, pos >> np.uint64(6), np.uint64(1) << (pos & np.uint64(63))
    )
    return words


_BLOOM = _Side("bloomidx", ".bloom", _bloom_words, "index")


def _side_dir(state_dir: str, side: _Side) -> str:
    return os.path.join(state_dir, side.dir)


def _meta_path(state_dir: str, side: _Side) -> str:
    return os.path.join(_side_dir(state_dir, side), "meta.json")


def _blob_root(state_dir: str, side: _Side) -> str:
    """A sidecar's dir as a URI ``pyarrow.fs`` resolves (plain paths are
    made absolute; tasks receive it in their closure)."""
    d = _side_dir(state_dir, side)
    return d if "://" in d else os.path.abspath(d)


def _blob_fs(root: str):
    """``(filesystem, path)`` of a sidecar dir (a few µs: not cached)."""
    from pyarrow.fs import FileSystem

    return FileSystem.from_uri(root)


def _column_dir(column: str) -> str:
    return quote(column, safe="")


def _blob_path(base: str, column: str, name: str, side: _Side) -> str:
    """The blob of blocks file ``name`` (a basename) and ``column``."""
    return f"{base}/{_column_dir(column)}/{name}{side.suffix}"


def _blob_size(bits: int) -> int:
    return 8 + bits // 8


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
    physical stored value, mirroring ``operators.encode._physicalize_arrow``:
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


def _read_meta(state_dir: str, side: _Side) -> dict | None:
    mp = _meta_path(state_dir, side)
    if not os.path.exists(mp):
        return None
    with open(mp) as f:
        return json.load(f)


def _write_meta(state_dir: str, side: _Side, meta: dict) -> None:
    mp = _meta_path(state_dir, side)
    with open(mp + ".tmp", "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(mp + ".tmp", mp)


def _check_no_purge(state_dir: str, side: _Side) -> None:
    from d6tstack_spark.plans.checkpoint import _purge_journal_path

    if os.path.exists(_purge_journal_path(state_dir)):
        raise RuntimeError(
            f"state dir {state_dir} has an in-flight purge commit journal; "
            f"run plans.maintenance.purge_deletes() first, then {side.verb}"
        )


def _build(
    spark: SparkSession,
    state_dir: str,
    side: _Side,
    columns,
    bits: int,
    sizing: dict,
) -> int:
    """Build (or rebuild) a sidecar over every listed (file, column)
    pair in one :func:`_index_files` job, then publish its meta
    (``sizing`` plus the columns and the layout marker) and delete what
    the rebuild no longer covers: an older parquet sidecar, the blobs of
    unlisted files and of dropped columns. Checks first what every build
    checks: no in-flight purge, known columns of a hashable type, a
    non-empty blocks dir. Returns the number of files listed."""
    import shutil

    from d6tstack_spark.operators.encode import _hadoop_list_files
    from d6tstack_spark.plans.checkpoint import _blocks_dir, load_manifest

    _check_no_purge(state_dir, side)
    manifest = load_manifest(state_dir)
    columns = list(columns)
    if not columns:
        raise ValueError(f"columns is empty — nothing to {side.verb}")
    missing = [c for c in columns if c not in manifest]
    if missing:
        raise ValueError(f"columns not in manifest: {missing}")
    bad = [
        c for c in columns if manifest[c]["ptype"] not in _INDEXABLE_PTYPES
    ]
    if bad:
        raise ValueError(
            f"columns {bad} have un-{side.verb}able types "
            f"({[manifest[c]['ptype'] for c in bad]}); only strings, "
            f"binary and integer-physicalized columns can be {side.verb}ed"
        )
    bd = _blocks_dir(state_dir)
    paths = sorted(_hadoop_list_files(spark, bd, ".parquet"))
    if not paths:
        raise ValueError(f"no blocks parquet files under {bd}")

    old = _read_meta(state_dir, side)
    if old is None or old.get("layout") != _LAYOUT:
        # the parquet sidecar of the older layout (before any blob is
        # written: a column named "data" would share the directory)
        shutil.rmtree(os.path.join(_side_dir(state_dir, side), "data"), True)
    os.makedirs(_side_dir(state_dir, side), exist_ok=True)
    _index_files(
        spark, state_dir, [(p, columns) for p in paths], manifest, bits, side
    ).collect()
    _write_meta(
        state_dir,
        side,
        {
            **sizing,
            "columns": sorted(columns),
            "built_ts": time.time(),
            "layout": _LAYOUT,
        },
    )
    live = {os.path.basename(p) for p in paths}
    _drop_stale_blobs(state_dir, columns, live, side)
    return len(paths)


def _extend(
    spark: SparkSession, state_dir: str, side: _Side, meta: dict, bits: int
) -> int:
    """Write the blobs of the listed (file, column) pairs a blob-layout
    sidecar does not cover yet — coverage from a listing of its blob
    directories, covered blobs never rewritten, no job when nothing is
    new. Returns the number of files that gained a blob."""
    from d6tstack_spark.operators.encode import _hadoop_list_files
    from d6tstack_spark.plans.checkpoint import _blocks_dir, load_manifest

    _check_no_purge(state_dir, side)
    columns = list(meta["columns"])
    paths = sorted(
        _hadoop_list_files(spark, _blocks_dir(state_dir), ".parquet")
    )
    covered = _covered_pairs(state_dir, columns, bits, side)
    # a partially-covered file indexes only its missing columns
    work = []
    for p in paths:
        b = os.path.basename(p)
        todo = [c for c in columns if (b, c) not in covered]
        if todo:
            work.append((p, todo))
    if work:
        manifest = load_manifest(state_dir)
        _index_files(spark, state_dir, work, manifest, bits, side).collect()
        _write_meta(state_dir, side, {**meta, "built_ts": time.time()})
    return len(work)


def build_bloom_index(
    spark: SparkSession,
    state_dir: str,
    columns: list[str] | tuple[str, ...],
    m_bits: int = DEFAULT_M_BITS,
) -> dict:
    """Build (or rebuild) the Bloom sidecar for ``columns`` — one task
    pass over the blocks files (:func:`_index_files`): each task decodes
    only the indexed columns' payloads of its files, hashes the DISTINCT
    values (cardinality-bounded work), folds them into one bitmap per
    listed (file, column) and writes it as a blob. A rebuild then deletes
    the blobs of files no longer listed and of columns no longer indexed,
    and removes an older parquet sidecar.

    Indexable column types: strings, binary, integers (including
    timestamp/date/bool columns, which physicalize to ints). Float and
    list columns are refused — point equality on them is not a pruning
    pattern."""
    if m_bits % 64 or m_bits < 64:
        raise ValueError(f"m_bits must be a positive multiple of 64: {m_bits}")
    mb = int(m_bits)
    n = _build(
        spark, state_dir, _BLOOM, columns, mb, {"m_bits": mb, "k": BLOOM_K}
    )
    return {"files_indexed": n, "columns": sorted(columns)}


def refresh_bloom_index(spark: SparkSession, state_dir: str) -> dict:
    """Incrementally extend the sidecar to files added since the last
    build/refresh — cost scales with the NEW data, not the table (the
    maintenance cadence a streamed or resumed 100 TB dir needs; a full
    :func:`build_bloom_index` is only warranted to also FORGET files a
    rewrite retired). Columns and sizing come from the recorded meta; the
    uncovered (file, column) pairs come from a listing of the blob
    directories, and covered blobs are never rewritten. A sidecar of the
    older parquet layout is rebuilt in full."""
    meta = load_bloom_meta(state_dir)
    if meta is None:
        raise ValueError(
            f"no Bloom index under {state_dir}; run build_bloom_index first"
        )
    columns, mb = list(meta["columns"]), int(meta["m_bits"])
    if meta.get("layout") != _LAYOUT:
        rep = build_bloom_index(spark, state_dir, columns, mb)
        return {
            "files_refreshed": rep["files_indexed"],
            "columns": rep["columns"],
        }
    n = _extend(spark, state_dir, _BLOOM, meta, mb)
    return {"files_refreshed": n, "columns": sorted(columns)}


def _index_files(
    spark: SparkSession,
    state_dir: str,
    work: list[tuple[str, list[str]]],
    manifest: dict,
    bits: int,
    side: _Side = _BLOOM,
):
    """The distributed sidecar build: one task pass over the blocks files
    of ``work`` (``(path, columns)`` pairs), at most one task per core and
    no exchange. Each task streams its files' column rows for ``columns``
    with pyarrow, decodes the payloads and collects the DISTINCT canonical
    bytes of each (file, column) (cardinality-bounded work), hashes each
    one md5 and folds the hashes into the blob body (``side.fold``, sized
    by ``bits``), writes it to a temporary name and renames it into place.
    EVERY listed pair gets a blob: an empty part file or a file written
    before a column existed folds the empty set (a zero bitmap, zero
    registers) — the sound record, since the file holds no value of the
    column, and a missing blob would leave it permanently uncovered.
    Returns the DataFrame of ``(file, column, n_distinct)`` rows, one per
    blob; the caller's ``collect`` runs the build as one job."""
    pmeta = {c: dict(manifest[c]) for _, cols in work for c in cols}
    root = _blob_root(state_dir, side)

    def build(batches):
        import uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        from d6tstack_spark.operators.encode import (
            _block_distinct_values,
            _block_rows,
        )

        fs, base = _blob_fs(root)

        def publish(col, name, n_distinct, body):
            blob = _blob_path(base, col, name, side)
            d = blob.rsplit("/", 1)[0]
            fs.create_dir(d, recursive=True)
            tmp = f"{d}/.{name}.{uuid.uuid4().hex}.tmp"
            with fs.open_output_stream(tmp, compression=None) as out:
                out.write(struct.pack("<q", n_distinct))
                out.write(body.tobytes())
            fs.move(tmp, blob)

        out = {"file": [], "column": [], "n_distinct": []}
        for b in batches:
            for path, cols in zip(
                b.column("path").to_pylist(), b.column("cols").to_pylist()
            ):
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
                    for col, *blk in _block_rows(rb):
                        m, s = pmeta[col], seen[col]
                        for v in _block_distinct_values(m["ptype"], *blk):
                            h = _canonical_bytes(v, m)
                            if h is not None:
                                s.add(h)
                name = os.path.basename(path)
                for c in cols:
                    body = side.fold(_md5_halves(seen[c]), bits)
                    publish(c, name, len(seen[c]), body)
                    out["file"].append(name)
                    out["column"].append(c)
                    out["n_distinct"].append(len(seen[c]))
        yield pa.RecordBatch.from_pydict(
            out,
            schema=pa.schema(
                [("file", pa.string()), ("column", pa.string()),
                 ("n_distinct", pa.int64())]
            ),
        )

    from d6tstack_spark.operators.encode import map_slices

    n_tasks = min(len(work), spark.sparkContext.defaultParallelism)
    return map_slices(
        spark, work, n_tasks, build,
        "file string, column string, n_distinct long",
        "path string, cols array<string>",
    )


def load_bloom_meta(state_dir: str) -> dict | None:
    return _read_meta(state_dir, _BLOOM)


def _usable_meta(state_dir: str) -> dict | None:
    """The meta when reads may probe the sidecar: the blob layout under
    this module's construction; None otherwise (no pruning)."""
    meta = load_bloom_meta(state_dir)
    if meta is None or meta.get("layout") != _LAYOUT:
        return None
    return meta if meta.get("k") == BLOOM_K else None


def _covered_pairs(
    state_dir: str, columns, bits: int, side: _Side
) -> set[tuple]:
    """``(file basename, column)`` pairs with a blob of the right size —
    one directory listing per column, no Spark job. A blob of any other
    size (written under another sizing by a crashed rebuild) counts as
    uncovered, the safe direction."""
    from pyarrow.fs import FileSelector, FileType

    fs, base = _blob_fs(_blob_root(state_dir, side))
    size, n = _blob_size(bits), len(side.suffix)
    out = set()
    for c in columns:
        sel = FileSelector(f"{base}/{_column_dir(c)}", allow_not_found=True)
        for info in fs.get_file_info(sel):
            if (
                info.type == FileType.File
                and info.base_name.endswith(side.suffix)
                and info.size == size
            ):
                out.add((info.base_name[:-n], c))
    return out


def bloom_covered_files(state_dir: str, basenames) -> set[str]:
    """The ``basenames`` whose every indexed column has a usable blob
    (empty without a usable index) — from the blob listing alone."""
    meta = _usable_meta(state_dir)
    if meta is None:
        return set()
    cols = meta["columns"]
    pairs = _covered_pairs(state_dir, cols, int(meta["m_bits"]), _BLOOM)
    return {b for b in basenames if all((b, c) in pairs for c in cols)}


def _drop_stale_blobs(
    state_dir: str, columns, live: set[str], side: _Side
) -> None:
    """After a rebuild: delete the blob dirs of columns no longer covered
    and the blobs (and stray temporaries) of files no longer listed."""
    from pyarrow.fs import FileSelector, FileType

    fs, base = _blob_fs(_blob_root(state_dir, side))
    keep_dirs = {_column_dir(c) for c in columns}
    keep = {b + side.suffix for b in live}
    for d in fs.get_file_info(FileSelector(base)):
        if d.type != FileType.Directory:
            continue
        if d.base_name not in keep_dirs:
            fs.delete_dir(d.path)
            continue
        for info in fs.get_file_info(FileSelector(d.path)):
            if info.base_name not in keep:
                fs.delete_file(info.path)


class BloomPlan(NamedTuple):
    """A WHERE's Bloom probes, evaluated per file by :meth:`keeps` in the
    task that owns the file: bit positions are hashed on the driver, so a
    task only reads words."""

    root: str  # the bloom dir URI
    m_bits: int
    # per DNF branch, its ((column, positions), ...) equality probes;
    # () when some branch has none (the DNF then rules nothing out)
    branches: tuple
    # per top-level IN conjunct: (column, (positions, ...))
    ins: tuple

    def keeps(self, path: str) -> bool:
        """Whether blocks file ``path`` (or its basename) may hold a
        matching row — the one probe: k ``read_at`` calls of one word per
        probe, the DNF/IN set algebra as a per-file boolean. A (file,
        column) without a blob of the right size always passes."""
        fs, base = _blob_fs(self.root)
        name = path.rstrip("/").rsplit("/", 1)[-1]
        blobs: dict = {}

        def may_hold(col, positions) -> bool:
            if col not in blobs:
                try:
                    f = fs.open_input_file(_blob_path(base, col, name, _BLOOM))
                except OSError:
                    f = None
                if f is not None and f.size() != _blob_size(self.m_bits):
                    f.close()
                    f = None
                blobs[col] = f
            f = blobs[col]
            if f is None:
                return True
            for pos in positions:
                at = 8 + (pos >> 6) * 8
                word = int.from_bytes(f.read_at(8, at), "little")
                if not (word >> (pos & 63)) & 1:
                    return False
            return True

        try:
            for col, probes in self.ins:
                if not any(may_hold(col, p) for p in probes):
                    return False
            return not self.branches or any(
                all(may_hold(c, p) for c, p in br) for br in self.branches
            )
        finally:
            for f in blobs.values():
                if f is not None:
                    f.close()


def bloom_plan(state_dir: str, manifest: dict, cw) -> BloomPlan | None:
    """The Bloom plan of a :class:`~d6tstack_spark.operators.encode.
    CompiledWhere`, or None when the index cannot prune it — no Spark
    job, no I/O beyond ``meta.json``. Sound under the DNF reading of the
    predicate: a branch is ruled out for a file only when one of its
    equality atoms on an indexed column misses; top-level ``IN``
    conjuncts (a conjunct constrains every matching row) rule a file out
    when every listed value misses. Range atoms, un-indexed columns,
    untranslatable values and IN lists longer than ``_MAX_IN_PROBES``
    contribute no probe. The plan reads the user's predicate only, so
    every tombstone generation of a read can use it."""
    meta = _usable_meta(state_dir)
    if meta is None:
        return None
    indexed = set(meta["columns"])
    mb = int(meta["m_bits"])

    def probe(col, v):
        b = _probe_bytes(v, manifest[col])
        return None if b is None else tuple(_positions(b, mb))

    ins = []
    for col, vals in cw.in_sets:
        if col not in indexed or len(vals) > _MAX_IN_PROBES:
            continue
        ps = [probe(col, v) for v in vals]
        if all(p is not None for p in ps):
            ins.append((col, tuple(ps)))
    # Schema evolution needs no special case: a pre-evolution file carries
    # a zero bitmap for an evolved column (it decodes the column as
    # all-null, so no equality atom can match it)
    branches = []
    for branch in cw.dnf:
        probes = []
        for atom in branch:
            if len(atom) != 3 or atom[0] not in indexed:
                continue
            col, lo, hi = atom
            if lo is None or lo != hi:
                continue  # range atom — zone maps handle those
            p = probe(col, lo)
            if p is not None:
                probes.append((col, p))
        branches.append(tuple(probes))
    if not all(branches):
        branches = []  # a branch with no probe keeps every file
    if not branches and not ins:
        return None
    root = _blob_root(state_dir, _BLOOM)
    return BloomPlan(root, mb, tuple(branches), tuple(ins))


def bloom_value_plan(
    state_dir: str, manifest: dict, col: str, values: list
) -> BloomPlan | None:
    """The Bloom plan of "``col`` holds one of ``values``", or None when
    the index cannot prune it — for callers that hold the values
    directly (equality-delete key sets) rather than a WHERE string.
    ``values`` are LOGICAL (what a decode returns); a NULL or
    unconvertible value, or a list longer than ``_MAX_IN_PROBES``, gives
    no plan — same advisory contract as everywhere else."""
    meta = _usable_meta(state_dir)
    if (
        meta is None
        or col not in set(meta["columns"])
        or col not in manifest
        or not values
        or len(values) > _MAX_IN_PROBES
    ):
        return None
    mb = int(meta["m_bits"])
    probes = []
    for v in values:
        b = _probe_bytes(v, manifest[col])
        if b is None:
            return None
        probes.append(tuple(_positions(b, mb)))
    root = _blob_root(state_dir, _BLOOM)
    return BloomPlan(root, mb, (), ((col, tuple(probes)),))


class AnyBloomPlan(NamedTuple):
    """Keeps a file when any of ``plans`` keeps it: the Bloom verdict of
    a rewrite that any of several tombstones may target."""

    plans: tuple

    def keeps(self, path: str) -> bool:
        return any(p.keeps(path) for p in self.plans)


def bloom_value_keep(
    spark: SparkSession,
    state_dir: str,
    manifest: dict,
    col: str,
    values: list,
    basenames: list[str],
) -> list[str]:
    """Files that may contain ANY of ``values`` in ``col`` — the
    value-set twin of :func:`bloom_prune_basenames`
    (:func:`bloom_value_plan` semantics): uncovered files keep
    everything, and with no plan ``basenames`` return unchanged with no
    job."""
    from d6tstack_spark.operators.encode import file_census

    plan = bloom_value_plan(state_dir, manifest, col, values)
    if plan is None or not basenames:
        return basenames
    census = file_census(spark, basenames, bloom=plan, tally=False)
    return [c.path for c in census if c.bloom]


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
    contain a matching row (:func:`bloom_plan` semantics), probed by
    :meth:`BloomPlan.keeps` in one census job. Returns a subset of
    ``basenames`` (order preserved); with no index or no usable atom,
    returns it unchanged with no job."""
    if not basenames or _usable_meta(state_dir) is None:
        return basenames
    from d6tstack_spark.operators.encode import (
        CompiledWhere,
        compile_where,
        file_census,
    )

    cw = (
        where
        if isinstance(where, CompiledWhere)
        else compile_where(spark, where, manifest)
    )
    plan = bloom_plan(state_dir, manifest, cw)
    if plan is None:
        return basenames
    census = file_census(spark, basenames, bloom=plan, tally=False)
    return [c.path for c in census if c.bloom]
