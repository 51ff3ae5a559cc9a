"""The Catalyst WHERE compile (``operators.encode.compile_where``) as the
read verbs use it: literals resolve in the session time zone exactly as
the row filter reads them, TIMESTAMP_NTZ stays wall-clock time under any
session zone, compiling runs no Spark job and logs no recovered error,
and one read verb compiles its predicate once."""

from __future__ import annotations

import datetime as dt
import logging
import os
from contextlib import contextmanager
from zoneinfo import ZoneInfo

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from conftest import spark_jobs
from d6tstack_spark.operators import encode
from d6tstack_spark.plans.bloomidx import bloom_prune_basenames, build_bloom_index
from d6tstack_spark.plans.checkpoint import decode_state, encode_resume, load_manifest
from d6tstack_spark.plans.fastcount import fast_count

_TZ = "America/Los_Angeles"
_TS = pa.timestamp("us", tz="UTC")


@contextmanager
def _session_tz(spark, tz: str):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def _local(*args) -> dt.datetime:
    return dt.datetime(*args, tzinfo=ZoneInfo(_TZ))


def test_ts_range_prunes_in_session_time_zone(spark, tmp_path):
    """4,000 one-minute rows in 250-row blocks. Under a non-UTC session
    zone a TIMESTAMP literal is local wall time; a bound read as UTC
    would prune the blocks holding the last 8 hours of matches."""
    from d6tstack_spark.operators.sinks import write_blocks

    t0 = dt.datetime(2021, 1, 1, tzinfo=dt.timezone.utc)
    tbl = pa.table(
        {
            "k": pa.array(range(4000), pa.int64()),
            "ts": pa.array(
                [t0 + dt.timedelta(minutes=i) for i in range(4000)], _TS
            ),
        }
    )
    src = str(tmp_path / "ts.parquet")
    pq.write_table(tbl, src, row_group_size=250)
    blocks, man = encode.encode_parquet_files(
        spark, src, order_cols=("k",), row_groups_per_split=1
    )
    bdir = str(tmp_path / "blocks")
    write_blocks(blocks, bdir)
    cut = pa.scalar(_local(2021, 1, 2), _TS)
    want = tbl.filter(pc.less(tbl["ts"], cut)).column("k").to_pylist()
    assert len(want) == 1920
    with _session_tz(spark, _TZ):
        got = encode.decode_where(
            spark, bdir, man, "ts < TIMESTAMP '2021-01-02 00:00:00'"
        )
        assert sorted(r.k for r in got.select("k").collect()) == want


def test_ts_bloom_probe_in_session_time_zone(spark, tmp_path):
    """Three files with interleaved minutes (every file spans the same
    range, each minute lives in one file), Bloom-indexed on ``ts``. The
    equality literal is local wall time: the Bloom must probe the instant
    the row filter compares against, so exactly the holding file
    survives and decode_state returns the row."""
    t0 = _local(2021, 1, 2).astimezone(dt.timezone.utc)
    tables, paths = [], []
    for i in range(3):
        n = 1200
        tbl = pa.table(
            {
                "conv_id": pa.array([f"{'abc'[i]}{j // 6:04d}" for j in range(n)]),
                "turn_idx": pa.array([j % 6 for j in range(n)], pa.int32()),
                "ts": pa.array(
                    [t0 + dt.timedelta(minutes=3 * j + i) for j in range(n)], _TS
                ),
            }
        )
        p = str(tmp_path / f"src_{i}.parquet")
        pq.write_table(tbl, p, row_group_size=1200)
        tables.append(tbl)
        paths.append(p)
    sd = str(tmp_path / "state")
    encode_resume(spark, paths, sd, order_cols=("conv_id", "turn_idx"))
    build_bloom_index(spark, sd, ["ts"])
    src = pa.concat_tables(tables)
    hit = src.filter(pc.equal(src["ts"], pa.scalar(_local(2021, 1, 2, 3, 7), _TS)))
    want = list(
        zip(hit.column("conv_id").to_pylist(), hit.column("turn_idx").to_pylist())
    )
    assert want == [("b0010", 2)]
    names = sorted(os.listdir(os.path.join(sd, "blocks")))
    names = [b for b in names if b.endswith(".parquet")]
    w = "ts = TIMESTAMP '2021-01-02 03:07:00'"
    with _session_tz(spark, _TZ):
        kept = bloom_prune_basenames(spark, sd, load_manifest(sd), w, names)
        got = decode_state(spark, sd, where=w).select("conv_id", "turn_idx")
        assert [tuple(r) for r in got.collect()] == want
    assert len(kept) == 1


def test_compile_runs_no_spark_job(spark):
    man = {
        "k": {"ptype": "i64", "logical": None},
        "grp": {"ptype": "str", "logical": None},
        "ts": {"ptype": "i64", "logical": "ts"},
    }
    cw, jobs = spark_jobs(
        spark,
        lambda: encode.compile_where(
            spark,
            "k IN (1, 2, 3) AND (grp LIKE 'g0%' OR ts < TIMESTAMP '2021-01-02')",
            man,
        ),
    )
    assert jobs == 0
    assert cw.dnf == [
        [("k", 1, 3), ("grp", "g0", b"g1")],
        [("k", 1, 3), ("ts", None, dt.datetime(2021, 1, 2))],
    ]


def test_read_verbs_compile_once(spark, tmp_path, monkeypatch):
    """decode_state and fast_count compile their WHERE exactly once: the
    Bloom probe, the zone DNF, the negation and the projection all read
    the one result."""
    tbl = pa.table(
        {
            "conv_id": pa.array([f"c{j // 6:04d}" for j in range(1200)]),
            "turn_idx": pa.array([j % 6 for j in range(1200)], pa.int32()),
            "seq": pa.array(range(1200), pa.int64()),
        }
    )
    p = str(tmp_path / "src.parquet")
    pq.write_table(tbl, p, row_group_size=400)
    sd = str(tmp_path / "state")
    encode_resume(spark, [p], sd, order_cols=("conv_id", "turn_idx"))
    build_bloom_index(spark, sd, ["conv_id"])
    calls = []
    real = encode.compile_where

    def spy(*args, **kwargs):
        calls.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(encode, "compile_where", spy)
    w = "conv_id IN ('c0001', 'c0100') AND seq < 700"
    got = decode_state(spark, sd, where=w, columns=["turn_idx"]).count()
    assert (got, calls) == (12, [w])
    calls.clear()
    assert fast_count(spark, sd, where=w)["count"] == 12
    assert calls == [w]


def test_ts_ntz_is_zone_free(spark, tmp_path):
    """TIMESTAMP_NTZ is wall-clock time. 100 hourly rows plus one wall time
    in Los Angeles' 2021 DST gap (and a NULL): the stored µs are the same
    under any session zone (the ones a UTC session and pyarrow write), and
    blocks a UTC session wrote decode, prune and filter to the same wall
    times under Los Angeles. Beside it ride a TIMESTAMP (instants across
    the DST switch), a DATE and a BOOLEAN column with NULLs: under Los
    Angeles all four decoders return every value exactly, in the exact
    Spark types."""
    from pyspark.sql import types as T

    from d6tstack_spark.operators.encode_sliced import (
        decode_blocks_local,
        roundtrip_parquet_files_sliced,
    )
    from d6tstack_spark.operators.sinks import write_blocks

    walls = [dt.datetime(2021, 1, 1) + dt.timedelta(hours=i) for i in range(100)]
    walls += [dt.datetime(2021, 3, 14, 2, 30), None]
    n = len(walls)
    switch = dt.datetime(2021, 3, 14, 9, 30, tzinfo=dt.timezone.utc)
    tbl = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "tn": pa.array(walls, pa.timestamp("us")),
            "ts": pa.array(
                [None if i % 7 == 3 else switch + dt.timedelta(minutes=7 * i)
                 for i in range(n)],
                _TS,
            ),
            "d": pa.array(
                [None if i % 5 == 1 else dt.date(2021, 3, 1) + dt.timedelta(days=i)
                 for i in range(n)],
                pa.date32(),
            ),
            "b": pa.array(
                [None if i % 4 == 2 else i % 3 == 0 for i in range(n)], pa.bool_()
            ),
        }
    )
    src = str(tmp_path / "ntz.parquet")
    pq.write_table(tbl, src)
    want_us = tbl.column("tn").cast(pa.int64()).to_pylist()
    want_types = {
        "k": T.LongType(),
        "tn": T.TimestampNTZType(),
        "ts": T.TimestampType(),
        "d": T.DateType(),
        "b": T.BooleanType(),
    }

    def values(t: pa.Table) -> dict:
        t = t.sort_by("k")
        return {
            c: (t[c].cast(pa.int64()) if c in ("tn", "ts") else t[c]).to_pylist()
            for c in want_types
        }

    want = values(tbl)
    bdir = str(tmp_path / "blocks")
    stored = {}
    for tz in ("UTC", _TZ):
        with _session_tz(spark, tz):
            df = spark.read.parquet(src)
            man = encode.build_manifest(df.schema)
            assert [man[c]["logical"] for c in ("tn", "ts", "d", "b")] == [
                "ts_ntz", "ts", "date", "bool"
            ]
            for mode in ("local", "cluster"):
                blocks, man = encode.encode_table(
                    df, order_cols=("k",), target_block_rows=25, mode=mode
                )
                stored[tz, mode] = blocks.toArrow().sort_by(
                    [("block_id", "ascending"), ("column", "ascending")]
                )
                if (tz, mode) == ("UTC", "local"):
                    write_blocks(blocks, bdir)
    phys = {"k": man["k"], "tn": {**man["tn"], "logical": None}}
    for mode in ("local", "cluster"):
        # every blocks row is the same under either zone ...
        assert stored["UTC", mode].equals(stored[_TZ, mode]), mode
        # ... and the stored tn µs are the wall clock as written
        pairs = []
        rows = stored["UTC", mode].combine_chunks().to_batches()[0]
        for _, blk in encode._block_runs(rows):
            got = encode._decode_one_block(pa.Table.from_batches([blk]), phys)
            pairs += zip(got["k"].to_pylist(), got["tn"].to_pylist())
        assert sorted(pairs) == list(zip(range(n), want_us)), mode
    with _session_tz(spark, _TZ):
        dec = encode.decode_table(spark.read.parquet(bdir), man)
        assert sorted((r.k, r.tn) for r in dec.collect()) == list(
            zip(range(n), walls)
        )
        blocks, _ = encode.encode_table(
            spark.read.parquet(src), order_cols=("k",), target_block_rows=25
        )
        decoders = {
            "decode_table": dec,
            "decode_parquet_blocks": encode.decode_parquet_blocks(spark, bdir, man),
            "decode_blocks_local": decode_blocks_local(blocks, man),
            "roundtrip_parquet_files_sliced": roundtrip_parquet_files_sliced(
                spark, src, order_cols=("k",)
            ),
        }
        for name, got in decoders.items():
            assert {f.name: f.dataType for f in got.schema} == want_types, name
            assert values(got.toArrow()) == want, name
        got = encode.decode_where(
            spark, bdir, man, "tn < TIMESTAMP_NTZ '2021-01-02 00:00:00'"
        )
        assert sorted(r.k for r in got.select("k").collect()) == list(range(24))
        gap = encode.decode_where(
            spark, bdir, man, "tn = TIMESTAMP_NTZ '2021-03-14 02:30:00'"
        )
        assert [r.k for r in gap.select("k").collect()] == [100]
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_recovered_compile_logs_no_error(spark, tmp_path):
    """A WHERE that fails ANSI constant folding compiles to no pruning
    without an ERROR record from PySpark's query-context loggers, whose
    levels are unchanged afterwards; the row filter still raises the error
    when the decode runs."""
    from pyspark.logger import PySparkLogger

    from d6tstack_spark.operators.sinks import write_blocks

    src = str(tmp_path / "k.parquet")
    pq.write_table(pa.table({"k": pa.array(range(100), pa.int64())}), src)
    blocks, man = encode.encode_parquet_files(spark, src, order_cols=("k",))
    bdir = str(tmp_path / "blocks")
    write_blocks(blocks, bdir)

    records = []
    keep = logging.Handler(logging.DEBUG)
    keep.emit = records.append
    loggers = [
        PySparkLogger.getLogger(n)
        for n in ("SQLQueryContextLogger", "DataFrameQueryContextLogger")
    ]
    levels = [lg.level for lg in loggers]
    for lg in loggers:
        lg.addHandler(keep)
    try:
        cw = encode.compile_where(spark, "k IN (1, 'x')", man)
    finally:
        for lg in loggers:
            lg.removeHandler(keep)
    assert (cw.dnf, cw.columns) == ([], ["k"])
    assert [r.getMessage() for r in records if r.levelno >= logging.ERROR] == []
    assert [lg.level for lg in loggers] == levels
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        encode.decode_where(spark, bdir, man, "k IN (1, 'x')").collect()


def test_datetime_bounds_to_stored_micros():
    """A datetime bound maps to the µs the encoder stores: the instant for
    TIMESTAMP (naive = UTC), the wall clock as written for TIMESTAMP_NTZ —
    in the zone-map bound and the Bloom probe alike."""
    from d6tstack_spark.plans.bloomidx import _to_physical

    wall = dt.datetime(2021, 1, 1)
    wall_us = 1_609_459_200_000_000
    local = _local(2021, 1, 1)  # 08:00 UTC
    for to_us in (
        lambda v, lg: encode._normalize_zone_bound(v, "i64", lg),
        lambda v, lg: _to_physical(v, {"logical": lg}),
    ):
        assert to_us(wall, "ts") == wall_us
        assert to_us(local, "ts") == wall_us + 8 * 3600 * 10**6
        assert to_us(wall, "ts_ntz") == wall_us
        assert to_us(local, "ts_ntz") == wall_us
