"""Bloom-filter point-lookup index over state dirs (plans.bloomidx):
build, in-Spark probe, advisory pruning soundness (uncovered files pass,
misses only drop files that truly lack the value), decode_state
integration, and staleness across appends/rewrites.

The index is the engine's answer to "conv_id = 'x' on a time-ordered
100 TB table" — zone maps span the alphabet there; the sidecar prunes to
the files that actually contain the conversation."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from d6tstack_spark.plans.bloomidx import (
    bloom_prune_basenames,
    build_bloom_index,
    load_bloom_meta,
)
from d6tstack_spark.plans.checkpoint import (
    decode_state,
    encode_resume,
    load_manifest,
)


def _mk_files(tmp_path, prefixes=("a", "b", "c"), n=1200):
    """One file per conv prefix; ``seq`` is file-disjoint int64 so both a
    string and an integer column have single-file point values."""
    os.makedirs(str(tmp_path), exist_ok=True)
    paths = []
    for i, p in enumerate(prefixes):
        tbl = pa.table(
            {
                "conv_id": pa.array([f"{p}{j // 6:04d}" for j in range(n)]),
                "turn_idx": pa.array([j % 6 for j in range(n)], pa.int32()),
                "seq": pa.array(
                    [i * 100000 + j for j in range(n)], pa.int64()
                ),
                "text": pa.array(
                    [None if j % 7 == 0 else f"msg {p}{j}" for j in range(n)]
                ),
            }
        )
        path = str(tmp_path / f"src_{i}.parquet")
        pq.write_table(tbl, path, row_group_size=400)
        paths.append(path)
    return paths


@pytest.fixture()
def state(spark, tmp_path):
    paths = _mk_files(tmp_path)
    sd = str(tmp_path / "state")
    encode_resume(spark, paths, sd, order_cols=("conv_id", "turn_idx"))
    return paths, sd, spark.read.parquet(*paths)


def _basenames(sd):
    import glob

    return sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(sd, "blocks", "*.parquet"))
    )


def test_build_and_point_prune_string(spark, state):
    paths, sd, src = state
    rep = build_bloom_index(spark, sd, ["conv_id", "seq"])
    assert rep["files_indexed"] == len(_basenames(sd))
    assert load_bloom_meta(sd)["columns"] == ["conv_id", "seq"]
    manifest = load_manifest(sd)
    names = _basenames(sd)
    kept = bloom_prune_basenames(
        spark, sd, manifest, "conv_id = 'b0007'", names
    )
    # only the 'b' file can hold it (fpp at this sizing is ~0)
    assert len(kept) == 1
    dec = decode_state(spark, sd, where="conv_id = 'b0007'")
    assert dec.count() == src.filter("conv_id = 'b0007'").count() > 0


def test_point_prune_int_and_conjunction(spark, state):
    paths, sd, src = state
    build_bloom_index(spark, sd, ["conv_id", "seq"])
    manifest = load_manifest(sd)
    names = _basenames(sd)
    kept = bloom_prune_basenames(
        spark, sd, manifest, "seq = 100005 AND turn_idx >= 0", names
    )
    assert len(kept) == 1
    dec = decode_state(spark, sd, where="seq = 100005 AND turn_idx >= 0")
    assert [r.seq for r in dec.collect()] == [100005]


def test_or_branches_union(spark, state):
    paths, sd, src = state
    build_bloom_index(spark, sd, ["conv_id"])
    manifest = load_manifest(sd)
    names = _basenames(sd)
    kept = bloom_prune_basenames(
        spark,
        sd,
        manifest,
        "conv_id = 'a0001' OR conv_id = 'c0001'",
        names,
    )
    assert len(kept) == 2
    dec = decode_state(
        spark, sd, where="conv_id = 'a0001' OR conv_id = 'c0001'"
    )
    assert dec.count() == src.filter(
        "conv_id IN ('a0001', 'c0001')"
    ).count()


def test_in_list_conjunct_prunes(spark, state):
    paths, sd, src = state
    build_bloom_index(spark, sd, ["conv_id", "seq"])
    manifest = load_manifest(sd)
    names = _basenames(sd)
    kept = bloom_prune_basenames(
        spark, sd, manifest, "conv_id IN ('a0001', 'c0001')", names
    )
    assert len(kept) == 2
    # IN composes with other conjuncts (the zone envelope loses the
    # value set; the prober's own conjunct scan recovers it)
    kept2 = bloom_prune_basenames(
        spark, sd, manifest, "seq IN (100005) AND turn_idx >= 2", names
    )
    assert len(kept2) == 1
    dec = decode_state(
        spark, sd, where="conv_id IN ('a0001', 'c0001') AND turn_idx = 0"
    )
    assert dec.count() == 2


def test_unusable_predicates_pass_through(spark, state):
    paths, sd, _ = state
    build_bloom_index(spark, sd, ["conv_id"])
    manifest = load_manifest(sd)
    names = _basenames(sd)
    # range atom, unindexed column, and a branch with no indexed atom
    for w in (
        "conv_id > 'b'",
        "text = 'msg b7'",
        "conv_id = 'b0007' OR turn_idx = 3",
    ):
        assert bloom_prune_basenames(spark, sd, manifest, w, names) == names


def test_no_index_is_identity(spark, state):
    paths, sd, _ = state
    manifest = load_manifest(sd)
    names = _basenames(sd)
    assert (
        bloom_prune_basenames(spark, sd, manifest, "conv_id = 'x'", names)
        == names
    )


def test_absent_value_yields_empty_with_schema(spark, state):
    paths, sd, src = state
    build_bloom_index(spark, sd, ["conv_id"])
    dec = decode_state(spark, sd, where="conv_id = 'zzz-nope'")
    assert dec.count() == 0
    assert dec.columns == src.columns


def test_appended_files_uncovered_but_correct(spark, state, tmp_path):
    paths, sd, src = state
    n_covered = build_bloom_index(spark, sd, ["conv_id"])["files_indexed"]
    extra = _mk_files(tmp_path / "more", prefixes=("d",), n=600)
    encode_resume(spark, paths + extra, sd, order_cols=("conv_id", "turn_idx"))
    manifest = load_manifest(sd)
    names = _basenames(sd)
    kept = bloom_prune_basenames(
        spark, sd, manifest, "conv_id = 'd0001'", names
    )
    # the new file has no index row → always kept; covered files miss
    assert len(kept) == len(names) - n_covered
    dec = decode_state(spark, sd, where="conv_id = 'd0001'")
    assert dec.count() == 6
    # rebuild covers the append and restores selectivity elsewhere
    build_bloom_index(spark, sd, ["conv_id"])
    kept2 = bloom_prune_basenames(
        spark, sd, load_manifest(sd), "conv_id = 'b0007'", _basenames(sd)
    )
    assert len(kept2) == 1


def test_refresh_indexes_only_new_files(spark, state, tmp_path):
    from d6tstack_spark.plans.bloomidx import refresh_bloom_index

    paths, sd, src = state
    build_bloom_index(spark, sd, ["conv_id"])
    # up-to-date index → refresh is a no-op
    assert refresh_bloom_index(spark, sd)["files_refreshed"] == 0
    names_before = set(_basenames(sd))
    extra = _mk_files(tmp_path / "more", prefixes=("d",), n=600)
    encode_resume(spark, paths + extra, sd, order_cols=("conv_id", "turn_idx"))
    new_files = set(_basenames(sd)) - names_before
    rep = refresh_bloom_index(spark, sd)
    assert rep["files_refreshed"] == len(new_files) > 0
    # covered again: a point lookup on the appended data prunes to 1,
    # and old coverage is intact (no duplicate rows in the sidecar)
    manifest = load_manifest(sd)
    names = _basenames(sd)
    for probe in ("d0001", "b0007"):
        kept = bloom_prune_basenames(
            spark, sd, manifest, f"conv_id = '{probe}'", names
        )
        assert len(kept) == 1
    # one blob per (file, column) and no stray temporaries
    blobs = os.listdir(os.path.join(sd, "bloomidx", "conv_id"))
    assert sorted(blobs) == sorted(f"{b}.bloom" for b in names)
    assert refresh_bloom_index(spark, sd)["files_refreshed"] == 0


def test_update_rewrite_stays_correct_without_rebuild(spark, state):
    from d6tstack_spark.plans.maintenance import update_where

    paths, sd, src = state
    build_bloom_index(spark, sd, ["conv_id"])
    update_where(
        spark, sd, {"text": "'patched'"}, "conv_id = 'b0007'"
    )
    # rewrite replaced the 'b' file with uncovered basenames → kept
    dec = decode_state(spark, sd, where="conv_id = 'b0007'")
    assert dec.count() == 6
    assert dec.filter("text = 'patched'").count() == 6


def test_purge_targeting_uses_bloom_on_unclustered_key(spark, tmp_path):
    """A point delete on a key whose zone ranges overlap in EVERY file
    (tag = 'NN_i' — ranges span '00_'..'49_' everywhere, each value
    lives in one file) rewrites only the Bloom-hit file."""
    from d6tstack_spark.plans.checkpoint import delete_where
    from d6tstack_spark.plans.maintenance import purge_deletes

    paths = []
    for i in range(3):
        n = 1200
        tbl = pa.table(
            {
                "conv_id": pa.array(
                    [f"{'abc'[i]}{j // 6:04d}" for j in range(n)]
                ),
                "turn_idx": pa.array([j % 6 for j in range(n)], pa.int32()),
                "tag": pa.array(
                    # value exists in exactly ONE row-group split of one
                    # source file, but every block's zone range spans
                    # '00_'..'49_' — only the Bloom can isolate it
                    [f"{j % 50:02d}_{i}_{j // 400}" for j in range(n)]
                ),
            }
        )
        p = str(tmp_path / f"src_{i}.parquet")
        pq.write_table(tbl, p, row_group_size=400)
        paths.append(p)
    sd = str(tmp_path / "state")
    from d6tstack_spark.plans.checkpoint import encode_resume

    encode_resume(spark, paths, sd, order_cols=("conv_id", "turn_idx"))
    src = spark.read.parquet(*paths)
    build_bloom_index(spark, sd, ["tag"])
    delete_where(spark, sd, "tag = '07_1_1'")
    rep = purge_deletes(spark, sd)
    assert rep["purged_rows"] == src.filter("tag = '07_1_1'").count() > 0
    # zone ranges keep every file; the Bloom sidecar narrows to one
    assert rep["files_rewritten"] == 1 < rep["files_scanned"]
    dec = decode_state(spark, sd)
    assert dec.filter("tag = '07_1_1'").count() == 0
    assert dec.count() == src.count() - rep["purged_rows"]


def test_keys_purge_targeting_uses_bloom(spark, tmp_path):
    """delete_keys of ONE value on an unclustered key (the GDPR 'forget
    this conversation' shape): the key-set envelope spans every file,
    the Bloom confines the rewrite to the one file holding the rows."""
    from d6tstack_spark.plans.checkpoint import delete_keys
    from d6tstack_spark.plans.maintenance import purge_deletes

    paths = []
    for i in range(3):
        n = 1200
        tbl = pa.table(
            {
                "conv_id": pa.array(
                    [f"{'abc'[i]}{j // 6:04d}" for j in range(n)]
                ),
                "turn_idx": pa.array([j % 6 for j in range(n)], pa.int32()),
                "tag": pa.array(
                    [f"{j % 50:02d}_{i}_{j // 400}" for j in range(n)]
                ),
            }
        )
        p = str(tmp_path / f"src_{i}.parquet")
        pq.write_table(tbl, p, row_group_size=400)
        paths.append(p)
    sd = str(tmp_path / "state")
    encode_resume(spark, paths, sd, order_cols=("conv_id", "turn_idx"))
    src = spark.read.parquet(*paths)
    build_bloom_index(spark, sd, ["tag"])
    keys = spark.createDataFrame([("07_1_1",)], "tag string")
    delete_keys(spark, sd, keys, key_cols=("tag",))
    rep = purge_deletes(spark, sd)
    assert rep["purged_rows"] == src.filter("tag = '07_1_1'").count() > 0
    assert rep["files_rewritten"] == 1 < rep["files_scanned"]
    dec = decode_state(spark, sd)
    assert dec.filter("tag = '07_1_1'").count() == 0
    assert dec.count() == src.count() - rep["purged_rows"]


def test_update_targeting_uses_bloom_on_unclustered_key(spark, tmp_path):
    from d6tstack_spark.plans.maintenance import update_where

    paths = []
    for i in range(3):
        n = 1200
        tbl = pa.table(
            {
                "conv_id": pa.array(
                    [f"{'abc'[i]}{j // 6:04d}" for j in range(n)]
                ),
                "turn_idx": pa.array([j % 6 for j in range(n)], pa.int32()),
                "tag": pa.array(
                    # value exists in exactly ONE row-group split of one
                    # source file, but every block's zone range spans
                    # '00_'..'49_' — only the Bloom can isolate it
                    [f"{j % 50:02d}_{i}_{j // 400}" for j in range(n)]
                ),
            }
        )
        p = str(tmp_path / f"src_{i}.parquet")
        pq.write_table(tbl, p, row_group_size=400)
        paths.append(p)
    sd = str(tmp_path / "state")
    from d6tstack_spark.plans.checkpoint import encode_resume

    encode_resume(spark, paths, sd, order_cols=("conv_id", "turn_idx"))
    src = spark.read.parquet(*paths)
    build_bloom_index(spark, sd, ["tag"])
    rep = update_where(spark, sd, {"tag": "'patched'"}, "tag = '07_2_1'")
    assert rep["matched"] == src.filter("tag = '07_2_1'").count() > 0
    assert rep["files_rewritten"] == 1 < rep["files_scanned"]
    dec = decode_state(spark, sd)
    assert dec.filter("tag = 'patched'").count() == rep["matched"]


def test_ts_point_equality_prunes(spark, tmp_path):
    """Timestamp equality probes hash the µs physicalization — the
    literal parses to a datetime, the build decodes int64 µs; both must
    land on the same bytes."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    paths = []
    for i in range(3):
        n = 1200
        tbl = pa.table(
            {
                "conv_id": pa.array(
                    [f"{'abc'[i]}{j // 6:04d}" for j in range(n)]
                ),
                "turn_idx": pa.array([j % 6 for j in range(n)], pa.int32()),
                # second offsets interleave across files: every file's ts
                # range overlaps, each exact second lives in one file
                "ts": pa.array(
                    [
                        base + dt.timedelta(seconds=(j % 50) * 100 + i)
                        for j in range(n)
                    ],
                    pa.timestamp("us"),
                ),
            }
        )
        p = str(tmp_path / f"src_{i}.parquet")
        pq.write_table(tbl, p, row_group_size=1200)
        paths.append(p)
    sd = str(tmp_path / "state")
    encode_resume(spark, paths, sd, order_cols=("conv_id", "turn_idx"))
    src = spark.read.parquet(*paths)
    build_bloom_index(spark, sd, ["ts"])
    manifest = load_manifest(sd)
    names = _basenames(sd)
    # second 701 = (j%50)=7 in file i=1 only
    w = "ts = TIMESTAMP '2024-01-01 00:11:41'"
    kept = bloom_prune_basenames(spark, sd, manifest, w, names)
    assert len(kept) == 1
    dec = decode_state(spark, sd, where=w)
    assert dec.count() == src.filter(w).count() > 0
    # absent timestamp → everything pruned, empty result
    w2 = "ts = TIMESTAMP '2024-01-01 00:11:41.5'"
    assert decode_state(spark, sd, where=w2).count() == 0


def test_state_info_reports_bloom_coverage(spark, state, tmp_path):
    from d6tstack_spark.plans.metrics import state_info

    paths, sd, _ = state
    assert "bloom_index" not in state_info(spark, sd)
    build_bloom_index(spark, sd, ["conv_id"])
    info = state_info(spark, sd)
    bi = info["bloom_index"]
    assert bi["columns"] == ["conv_id"]
    assert bi["files_covered"] == info["n_files"]
    assert bi["files_uncovered"] == 0
    extra = _mk_files(tmp_path / "more", prefixes=("d",), n=600)
    encode_resume(spark, paths + extra, sd, order_cols=("conv_id", "turn_idx"))
    bi2 = state_info(spark, sd)["bloom_index"]
    assert bi2["files_uncovered"] > 0


def test_build_validates(spark, state):
    paths, sd, _ = state
    with pytest.raises(ValueError, match="not in manifest"):
        build_bloom_index(spark, sd, ["nope"])
    with pytest.raises(ValueError, match="nothing to index"):
        build_bloom_index(spark, sd, [])
    with pytest.raises(ValueError, match="multiple of 64"):
        build_bloom_index(spark, sd, ["conv_id"], m_bits=100)


def test_in_list_probes_run_one_job(spark, state, monkeypatch):
    """Round-6 batching: a many-value IN probes every (column, value) in
    ONE aggregation + ONE collect — the round-5 shape scheduled one tiny
    Spark job per probe. Counted via DataFrame.collect, which the batched
    path calls exactly once; the pruned set is unchanged (covered by the
    value tests above)."""
    # patch the concrete class (pyspark 4's classic DataFrame overrides
    # collect; patching the abstract base would count nothing)
    from pyspark.sql.classic.dataframe import DataFrame

    paths, sd, src = state
    build_bloom_index(spark, sd, ["conv_id", "seq"])
    manifest = load_manifest(sd)
    names = _basenames(sd)
    calls = []
    real_collect = DataFrame.collect

    def counting_collect(self):
        calls.append(1)
        return real_collect(self)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    in_list = ", ".join(str(100000 + i) for i in range(20))
    kept = bloom_prune_basenames(
        spark, sd, manifest, f"seq IN ({in_list})", names
    )
    assert len(calls) == 1
    # the 20 values live in one source file's seq range — the index must
    # still prune to a single block file through the batched path
    assert len(kept) == 1


def test_truncated_blob_counts_as_uncovered(spark, state):
    """A blob whose size is not ``8 + m_bits/8`` (a torn or foreign
    write) testifies for nothing: its file is kept, reported uncovered,
    and the next refresh rewrites it."""
    from d6tstack_spark.plans.bloomidx import refresh_bloom_index
    from d6tstack_spark.plans.metrics import state_info

    paths, sd, src = state
    build_bloom_index(spark, sd, ["conv_id"])
    manifest = load_manifest(sd)
    names = _basenames(sd)
    w = "conv_id = 'b0007'"
    kept = bloom_prune_basenames(spark, sd, manifest, w, names)
    assert len(kept) == 1
    other = next(b for b in names if b not in kept)
    blob = os.path.join(sd, "bloomidx", "conv_id", other + ".bloom")
    with open(blob, "r+b") as f:
        f.truncate(os.path.getsize(blob) - 8)
    got = bloom_prune_basenames(spark, sd, manifest, w, names)
    assert sorted(got) == sorted(kept + [other])
    assert decode_state(spark, sd, where=w).count() == 6
    assert state_info(spark, sd)["bloom_index"]["files_uncovered"] == 1
    assert refresh_bloom_index(spark, sd)["files_refreshed"] == 1
    assert bloom_prune_basenames(spark, sd, manifest, w, names) == kept


def test_old_layout_sidecar_is_ignored_then_rebuilt(spark, state):
    """A sidecar of the older parquet layout (a ``meta.json`` without the
    layout marker beside ``bloomidx/data/``) prunes nothing — its bitmaps
    here are all zero, so a reader that trusted them would drop every
    file — and ``refresh_bloom_index`` rebuilds it as blobs, after which
    pruning works again."""
    import json

    from d6tstack_spark.plans.bloomidx import refresh_bloom_index
    from d6tstack_spark.plans.metrics import state_info

    paths, sd, src = state
    names = _basenames(sd)
    bd = os.path.join(sd, "bloomidx")
    os.makedirs(os.path.join(bd, "data"))
    pq.write_table(
        pa.table(
            {
                "file": names,
                "column": ["conv_id"] * len(names),
                "n_distinct": pa.array([0] * len(names), pa.int64()),
                "bloom": pa.array(
                    [[0] * 64] * len(names), pa.list_(pa.int64())
                ),
            }
        ),
        os.path.join(bd, "data", "part-0.parquet"),
    )
    with open(os.path.join(bd, "meta.json"), "w") as f:
        json.dump(
            {"m_bits": 4096, "k": 6, "columns": ["conv_id"], "built_ts": 0.0},
            f,
        )
    manifest = load_manifest(sd)
    w = "conv_id = 'b0007'"
    assert bloom_prune_basenames(spark, sd, manifest, w, names) == names
    assert decode_state(spark, sd, where=w).count() == 6
    assert state_info(spark, sd)["bloom_index"]["files_covered"] == 0

    assert refresh_bloom_index(spark, sd)["files_refreshed"] == len(names)
    meta = load_bloom_meta(sd)
    assert (meta["layout"], meta["m_bits"]) == ("blob", 4096)
    assert not os.path.exists(os.path.join(bd, "data"))
    assert len(bloom_prune_basenames(spark, sd, manifest, w, names)) == 1
    assert decode_state(spark, sd, where=w).count() == 6
    assert refresh_bloom_index(spark, sd)["files_refreshed"] == 0


def test_bit_positions_match_scalar_double_hashing():
    """The vectorized Bloom positions (build fold and probe alike) equal
    the scalar double-hashing reference ``(h1 + i·h2) mod m_bits`` over
    Python integers, for power-of-two and other multiples of 64, and the
    fold's bitmap sets exactly those bits."""
    import hashlib
    import random

    import numpy as np

    from d6tstack_spark.plans.bloomidx import (
        BLOOM_K,
        _bloom_words,
        _md5_halves,
        _positions,
    )

    def scalar(data, m_bits):
        d = hashlib.md5(data).digest()
        h1 = int.from_bytes(d[:8], "little")
        h2 = int.from_bytes(d[8:16], "little") | 1
        return [(h1 + i * h2) % m_bits for i in range(BLOOM_K)]

    rng = random.Random(7)
    vals = [b""] + [rng.randbytes(rng.randint(1, 24)) for _ in range(500)]
    for m_bits in (64, 192, 1 << 12, 64 * 1000003, 1 << 21, 1 << 40):
        for v in vals:
            assert _positions(v, m_bits) == scalar(v, m_bits), (m_bits, v)
        if m_bits <= 1 << 21:
            want = np.zeros(m_bits // 64, dtype=np.uint64)
            for v in vals:
                for p in scalar(v, m_bits):
                    want[p >> 6] |= np.uint64(1 << (p & 63))
            got = _bloom_words(_md5_halves(vals), m_bits)
            assert got.tolist() == want.tolist(), m_bits
