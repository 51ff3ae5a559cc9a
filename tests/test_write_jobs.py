"""Write-path planning cost and block layout.

``encode_resume`` plans a resume on the driver from one census of the
blocks dir, and encodes each commit batch with one task per core (more
when a file would exceed a few splits), each writing one file of whole
blocks. The Bloom and NDV sidecar builds and refreshes are one task
pass over the listed files, and the NDV merge is one more. These tests
pin the Spark job counts of those calls, the file layout of the commit
batches, and the sidecar blobs the pass writes for files that hold no
value of an indexed column."""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from conftest import spark_jobs
from d6tstack_spark.operators.encode import SUB_BLOCK_BITS
from d6tstack_spark.plans.bloomidx import (
    _canonical_bytes,
    _positions,
    build_bloom_index,
    refresh_bloom_index,
)
from d6tstack_spark.plans.checkpoint import (
    _MAX_SPLITS_PER_FILE,
    decode_state,
    encode_resume,
    load_manifest,
)
from d6tstack_spark.plans.ndvstats import (
    _hll_registers,
    build_ndv_stats,
    ndv_estimates,
    refresh_ndv_stats,
)

_N = 1200  # rows per source file


def _source(i: int, extra: bool = False) -> pa.Table:
    cols = {
        "conv_id": pa.array([f"{'abcdefgh'[i]}{j // 6:04d}" for j in range(_N)]),
        "turn_idx": pa.array([j % 6 for j in range(_N)], pa.int32()),
        "seq": pa.array([i * _N + j for j in range(_N)], pa.int64()),
        "val": pa.array(
            [None if j % 7 == 0 else float(j % 100) / 3 for j in range(_N)],
            pa.float64(),
        ),
    }
    if extra:  # a column the earlier files do not have
        cols["tag"] = pa.array([f"t{(i * 7 + j) % 13}" for j in range(_N)])
    return pa.table(cols)


def _write_source(tmp_path, i: int, row_group_size: int = 400, **kw) -> str:
    p = str(tmp_path / f"src_{i}.parquet")
    pq.write_table(_source(i, **kw), p, row_group_size=row_group_size)
    return p


def _sorted_rows(tbl: pa.Table, cols) -> list[tuple]:
    cols = list(cols)
    return sorted(zip(*(tbl.column(c).to_pylist() for c in cols)))


def _block_files(sd: str) -> list[str]:
    bd = os.path.join(sd, "blocks")
    return sorted(
        os.path.join(bd, f) for f in os.listdir(bd) if f.endswith(".parquet")
    )


def test_write_job_counts(spark, tmp_path):
    paths = [_write_source(tmp_path, i) for i in range(2)]
    sd = str(tmp_path / "state")

    s, jobs = spark_jobs(spark, lambda: encode_resume(spark, paths, sd))
    assert s["encoded"] == s["planned"] == 4
    assert jobs <= 3, jobs  # the encode write plus the lineage write

    _, jobs = spark_jobs(spark, lambda: build_bloom_index(spark, sd, ["conv_id"]))
    assert jobs == 1, jobs  # the build tasks write the blobs, one collect

    indexed = set(_block_files(sd))
    paths.append(_write_source(tmp_path, 2))
    s, jobs = spark_jobs(spark, lambda: encode_resume(spark, paths, sd))
    assert (s["skipped"], s["encoded"]) == (4, 2)
    assert jobs <= 6, jobs  # census, encode write, lineage write

    s, jobs = spark_jobs(spark, lambda: encode_resume(spark, paths, sd))
    assert s["already_complete"]
    assert jobs <= 2, jobs  # the census alone

    r, jobs = spark_jobs(spark, lambda: refresh_bloom_index(spark, sd))
    assert r["files_refreshed"] == len(set(_block_files(sd)) - indexed) > 0
    assert jobs == 1, jobs  # coverage comes from the blob listing

    src = pq.read_table(paths)
    got = decode_state(spark, sd).toArrow()
    assert _sorted_rows(got, src.column_names) == _sorted_rows(
        src, src.column_names
    )
    lineage = spark.read.parquet(os.path.join(sd, "lineage"))
    assert lineage.count() == 6
    assert lineage.agg({"rows": "sum"}).first()[0] == 3 * _N


def _jobs_stages(spark, fn):
    """(result of ``fn()``, its Spark jobs, their stages)."""
    sc = spark.sparkContext
    group = []

    def run():
        group.append(sc.getLocalProperty("spark.jobGroup.id"))
        return fn()

    out, jobs = spark_jobs(spark, run)
    st = sc.statusTracker()
    ids = st.getJobIdsForGroup(group[0])
    return out, jobs, sum(len(st.getJobInfo(j).stageIds) for j in ids)


def test_ndv_job_counts(spark, tmp_path):
    """The NDV build is the Bloom build's one task pass, a refresh
    runs it over the new files only (no job when nothing is new), and
    the estimate merge is one more shuffle-free pass."""
    paths = [_write_source(tmp_path, i) for i in range(2)]
    sd = str(tmp_path / "state")
    encode_resume(spark, paths, sd)
    cols = ["conv_id", "seq"]

    rep, jobs, stages = _jobs_stages(
        spark, lambda: build_ndv_stats(spark, sd, cols)
    )
    assert rep["files_sketched"] == len(_block_files(sd))
    assert (jobs, stages) == (1, 1)
    r, jobs = spark_jobs(spark, lambda: refresh_ndv_stats(spark, sd))
    assert (r["files_refreshed"], jobs) == (0, 0)

    sketched = set(_block_files(sd))
    paths.append(_write_source(tmp_path, 2))
    encode_resume(spark, paths, sd)
    r, jobs = spark_jobs(spark, lambda: refresh_ndv_stats(spark, sd))
    assert r["files_refreshed"] == len(set(_block_files(sd)) - sketched) > 0
    assert jobs == 1, jobs

    rows, jobs = spark_jobs(spark, lambda: ndv_estimates(spark, sd).collect())
    assert jobs == 1, jobs
    n_files = len(_block_files(sd))
    got = {r["column"]: (r["files"], r["ndv_estimate"]) for r in rows}
    assert set(got) == set(cols)
    for c, exact in (("conv_id", 3 * _N // 6), ("seq", 3 * _N)):
        assert got[c][0] == n_files
        assert abs(got[c][1] - exact) <= 0.05 * exact, (c, got[c], exact)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_write_plans_are_range_sourced(spark, tmp_path, monkeypatch):
    """The commit-batch encode and the Bloom build take their tasks from
    ``spark.range``: no Python-RDD source (``ExistingRDD``), no
    exchange."""
    from d6tstack_spark.operators import sinks
    from d6tstack_spark.plans.bloomidx import _index_files

    plans = []
    write = sinks.write_blocks

    def spy(df, *a, **kw):
        plans.append(_plan(df))
        return write(df, *a, **kw)

    monkeypatch.setattr(sinks, "write_blocks", spy)
    sd = str(tmp_path / "state")
    encode_resume(
        spark, [_write_source(tmp_path, 0)], sd, row_groups_per_split=1,
        checkpoint_every=2,
    )
    files = _block_files(sd)
    plans.append(
        _plan(_index_files(spark, sd, [(f, ["conv_id"]) for f in files],
                           load_manifest(sd), 1 << 12))
    )
    assert len(plans) == 3  # two commit batches and the Bloom build
    for plan in plans:
        assert "Range (" in plan, plan
        assert "ExistingRDD" not in plan, plan
        assert "Exchange" not in plan, plan


def test_commit_batch_file_layout(spark, tmp_path):
    """More splits than cores can take at the per-file cap: each commit
    batch (one write job, so one job uuid in the part-file names) writes
    one file per core, or more once a file would exceed
    ``_MAX_SPLITS_PER_FILE`` splits; every file holds whole blocks of at
    most that many splits, and the decode is bit-identical to the
    source."""
    cores = spark.sparkContext.defaultParallelism
    cap = _MAX_SPLITS_PER_FILE
    n_splits = 2 * cap * cores + 3
    p = str(tmp_path / "src.parquet")
    src = pa.concat_tables(_source(i % 8) for i in range(-(-n_splits // 3)))
    src = src.slice(0, n_splits * 400)
    pq.write_table(src, p, row_group_size=400)
    assert pq.ParquetFile(p).metadata.num_row_groups == n_splits
    ncols = len(src.column_names)

    for every in (0, 2):
        sd = str(tmp_path / f"state{every}")
        s = encode_resume(
            spark, [p], sd, row_groups_per_split=1, checkpoint_every=every
        )
        assert s["encoded"] == n_splits
        step = every or n_splits
        sizes = [min(step, n_splits - i) for i in range(0, n_splits, step)]
        want = [min(b, max(cores, -(-b // cap))) for b in sizes]
        assert every or want[0] > cores  # the cap binds in one batch
        by_job: dict[str, int] = {}
        owner: dict[int, str] = {}
        for f in _block_files(sd):
            job = re.match(r"part-\d+-([0-9a-f-]{36})", os.path.basename(f))
            by_job[job.group(1)] = by_job.get(job.group(1), 0) + 1
            t = pq.read_table(f, columns=["block_id", "column"])
            cols_of: dict[int, set] = {}
            for bid, col in zip(*(t.column(c).to_pylist() for c in t.column_names)):
                assert owner.setdefault(bid, f) == f, f"block {bid} split"
                cols_of.setdefault(bid, set()).add(col)
            assert all(len(c) == ncols for c in cols_of.values())
            bases = {bid >> SUB_BLOCK_BITS for bid in cols_of}
            assert len(bases) <= cap, (f, bases)
        assert sorted(by_job.values()) == sorted(want), (by_job, want)
        assert len(owner) == n_splits

        got = decode_state(spark, sd).toArrow()
        assert got.column_names == src.column_names
        rows = _sorted_rows(got, src.column_names)
        assert rows == _sorted_rows(src, src.column_names)


def _sidecar(sd: str) -> dict[tuple[str, str], list]:
    """(file, column) → its blobs as ``n_distinct`` and the bitmap words
    (read as int64, like the expected bitmap); any other name in a blob
    dir (a stray temporary) fails."""
    from urllib.parse import unquote

    root = os.path.join(sd, "bloomidx")
    out: dict[tuple[str, str], list] = {}
    for col in os.listdir(root):
        d = os.path.join(root, col)
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            assert name.endswith(".bloom"), name
            with open(os.path.join(d, name), "rb") as f:
                raw = f.read()
            out.setdefault((name[: -len(".bloom")], unquote(col)), []).append(
                {
                    "n_distinct": int.from_bytes(raw[:8], "little", signed=True),
                    "bloom": np.frombuffer(raw[8:], "<i8").tolist(),
                }
            )
    return out


def _expected_bitmap(spark, sd: str, f: str, col: str, mb: int):
    """(n_distinct, words) recomputed from the file's decoded values."""
    from d6tstack_spark.operators.encode import decode_parquet_blocks

    manifest = load_manifest(sd)
    vals = decode_parquet_blocks(
        spark, os.path.join(sd, "blocks"), manifest, columns=[col], paths=[f]
    ).toArrow().column(col).to_pylist()
    hashed = {_canonical_bytes(v, manifest[col]) for v in vals if v is not None}
    words = np.zeros(mb // 64, dtype=np.uint64)
    for b in hashed:
        for pos in _positions(b, mb):
            words[pos >> 6] |= np.uint64(1 << (pos & 63))
    return len(hashed), words.view(np.int64).tolist()


def _check_sidecar(spark, sd: str, columns: list[str], zero: set, mb: int):
    rows = _sidecar(sd)
    files = [os.path.basename(f) for f in _block_files(sd)]
    assert set(rows) == {(f, c) for f in files for c in columns}
    for (f, c), rs in rows.items():
        assert len(rs) == 1, (f, c, len(rs))
        n, words = _expected_bitmap(spark, sd, os.path.join(sd, "blocks", f), c, mb)
        assert (rs[0]["n_distinct"], rs[0]["bloom"]) == (n, words), (f, c)
        if (f, c) in zero:
            assert n == 0 and not any(words), (f, c)
        else:
            assert n > 0, (f, c)


def _decoded_hashes(spark, sd: str, f: str, col: str) -> np.ndarray:
    """The 64-bit HLL hashes (``md5[:8]``, little-endian) of the file's
    decoded distinct values."""
    from d6tstack_spark.operators.encode import decode_parquet_blocks

    manifest = load_manifest(sd)
    vals = decode_parquet_blocks(
        spark, os.path.join(sd, "blocks"), manifest, columns=[col], paths=[f]
    ).toArrow().column(col).to_pylist()
    hashed = {_canonical_bytes(v, manifest[col]) for v in vals if v is not None}
    return np.array(
        [int.from_bytes(hashlib.md5(b).digest()[:8], "little") for b in hashed],
        dtype=np.uint64,
    )


def _check_ndv_sidecar(spark, sd: str, columns: list[str], zero: set, lg_k):
    """One ``.hll`` blob per listed (file, column), no stray temporary:
    an ``n_distinct`` header and the registers recomputed from the file's
    decoded values, all zero for the ``zero`` pairs."""
    from urllib.parse import quote

    files = [os.path.basename(f) for f in _block_files(sd)]
    root = os.path.join(sd, "ndvstats")
    for c in columns:
        d = os.path.join(root, quote(c, safe=""))
        assert sorted(os.listdir(d)) == sorted(f + ".hll" for f in files)
        for f in files:
            with open(os.path.join(d, f + ".hll"), "rb") as fh:
                raw = fh.read()
            hashes = _decoded_hashes(spark, sd, os.path.join(sd, "blocks", f), c)
            assert int.from_bytes(raw[:8], "little") == len(hashes), (f, c)
            regs = np.frombuffer(raw[8:], np.uint8)
            assert regs.tolist() == _hll_registers(hashes, lg_k).tolist(), (f, c)
            assert (not regs.any()) == ((f, c) in zero), (f, c)


def test_bloom_rows_cover_empty_and_columnless_files(spark, tmp_path):
    """Every listed (file, column) gets exactly one sidecar blob, after a
    build and after a refresh: the pre-evolution files (no ``tag`` rows)
    and an empty part file carry zero bitmaps, and every bitmap equals
    one recomputed from the file's decoded values. An NDV sidecar on the
    same columns, built by the same pass, holds the same pairs as HLL
    registers, zero for the same files."""
    from d6tstack_spark.operators.encode import BLOCKS_SCHEMA
    from d6tstack_spark.operators.sinks import write_blocks

    mb = 1 << 12
    sd = str(tmp_path / "state")
    paths = [_write_source(tmp_path, 0)]
    encode_resume(spark, paths, sd)
    pre = set(_block_files(sd))
    # an empty commit partition leaves a zero-row part file behind
    write_blocks(
        spark.createDataFrame([], BLOCKS_SCHEMA),
        os.path.join(sd, "blocks"),
        mode="append",
    )
    empty = set(_block_files(sd)) - pre
    assert len(empty) == 1 and pq.read_metadata(next(iter(empty))).num_rows == 0
    paths.append(_write_source(tmp_path, 1, extra=True))  # evolution append
    encode_resume(spark, paths, sd)
    assert load_manifest(sd)["tag"].get("evolved")

    cols = ["conv_id", "tag"]
    rep = build_bloom_index(spark, sd, cols, m_bits=mb)
    assert rep["files_indexed"] == len(_block_files(sd))
    base = {os.path.basename(f) for f in pre | empty}
    zero = {(f, "tag") for f in base}
    zero |= {(os.path.basename(f), "conv_id") for f in empty}
    _check_sidecar(spark, sd, cols, zero, mb)

    before = set(_block_files(sd))
    paths.append(_write_source(tmp_path, 2, extra=True))
    encode_resume(spark, paths, sd)
    r = refresh_bloom_index(spark, sd)
    assert r["files_refreshed"] == len(set(_block_files(sd)) - before) > 0
    _check_sidecar(spark, sd, cols, zero, mb)
    assert refresh_bloom_index(spark, sd)["files_refreshed"] == 0

    # the NDV sidecar comes from the same pass: registers, not bitmaps
    rep = build_ndv_stats(spark, sd, cols)
    assert rep["files_sketched"] == len(_block_files(sd))
    _check_ndv_sidecar(spark, sd, cols, zero, 12)
