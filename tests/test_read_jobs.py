"""Read-path planning cost and its per-file classification.

State-dir reads plan zone pruning and fast_count classification inside the
decode tasks, from each file's own stats rows, so a read costs a fixed
number of Spark jobs whatever the predicate; the planners (explain,
fast_profile, fast_min_max, state_info) run the same classifier in one
census job or read the stats under their known schema. These tests pin
those job counts, check that per-file zone detection handles a blocks dir
mixing pre-zone-map and zone-map files, and check the one zone classifier
(``_zone_keep_ids_file``, run by every decode task, fast_count and the
census) against a pyarrow-compute evaluation of the same conservative
rule."""

from __future__ import annotations

import itertools
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from hypothesis import example, given, settings, strategies as st

from conftest import spark_jobs
from d6tstack_spark.plans.bloomidx import build_bloom_index
from d6tstack_spark.plans.checkpoint import decode_state, encode_resume
from d6tstack_spark.plans.fastcount import fast_count

_N = 1200  # rows per source file
_GROUPS = itertools.count()


def _source(i: int) -> pa.Table:
    """File ``i``: its own conv_id prefix (Bloom-prunable) and a
    file-disjoint ``seq`` range (zone-prunable)."""
    return pa.table(
        {
            "conv_id": pa.array([f"{'abcd'[i]}{j // 6:04d}" for j in range(_N)]),
            "turn_idx": pa.array([j % 6 for j in range(_N)], pa.int32()),
            "seq": pa.array([i * _N + j for j in range(_N)], pa.int64()),
            "val": pa.array(
                [None if j % 7 == 0 else float(j % 100) for j in range(_N)],
                pa.float64(),
            ),
        }
    )


def _build_state(spark, tmp_path, n_files: int):
    paths = []
    for i in range(n_files):
        p = str(tmp_path / f"src_{i}.parquet")
        pq.write_table(_source(i), p, row_group_size=400)
        paths.append(p)
        # one resume per file keeps each file's seq range in its own
        # blocks file
        encode_resume(spark, paths, str(tmp_path / "state"),
                      order_cols=("conv_id", "turn_idx"))
    src = pa.concat_tables(_source(i) for i in range(n_files))
    return str(tmp_path / "state"), src


def _sorted_rows(tbl: pa.Table, cols) -> list[tuple]:
    cols = list(cols)
    return sorted(zip(*(tbl.column(c).to_pylist() for c in cols)))


@pytest.fixture()
def indexed_state(spark, tmp_path):
    sd, src = _build_state(spark, tmp_path, 4)
    build_bloom_index(spark, sd, ["conv_id"])
    return sd, src


def test_read_job_counts(spark, indexed_state):
    sd, src = indexed_state
    cols = src.column_names
    assert len(os.listdir(os.path.join(sd, "blocks"))) >= 4

    # zone-prunable range read: one job, the decode itself
    where = "seq >= 1300 AND seq < 1350"
    got, jobs = spark_jobs(
        spark, lambda: decode_state(spark, sd, where=where).toArrow()
    )
    want = src.filter(
        pc.and_(pc.greater_equal(src["seq"], 1300), pc.less(src["seq"], 1350))
    )
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert jobs == 1, jobs

    # Bloom equality read: the decode tasks probe their own files' blobs
    got, jobs = spark_jobs(
        spark,
        lambda: decode_state(spark, sd, where="conv_id = 'c0007'").toArrow(),
    )
    want = src.filter(pc.equal(src["conv_id"], "c0007"))
    assert want.num_rows == 6
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert jobs == 1, jobs

    # full decode
    got, jobs = spark_jobs(spark, lambda: decode_state(spark, sd).toArrow())
    assert _sorted_rows(got, cols) == _sorted_rows(src, cols)
    assert jobs == 1, jobs

    # fast_count: classification, undecided-block decode and count in
    # one job
    where = "seq >= 600 AND seq < 2000"
    rep, jobs = spark_jobs(spark, lambda: fast_count(spark, sd, where=where))
    want = src.filter(
        pc.and_(pc.greater_equal(src["seq"], 600), pc.less(src["seq"], 2000))
    )
    assert rep["count"] == want.num_rows
    assert rep["mode"] == "hybrid"
    assert jobs == 1, jobs

    # a Bloom-prunable count: the same one job
    rep, jobs = spark_jobs(
        spark, lambda: fast_count(spark, sd, where="conv_id = 'c0007'")
    )
    assert rep["count"] == 6
    assert rep["files_pruned"] == rep["files_total"] - 1
    assert jobs == 1, jobs

    # state_info's Bloom coverage comes from the blob listing: no job
    # beyond those of the same call on an unindexed copy of the dir
    import shutil

    from d6tstack_spark.plans.metrics import state_info

    bare = sd + "_bare"
    shutil.copytree(sd, bare, ignore=shutil.ignore_patterns("bloomidx"))
    info, jobs = spark_jobs(spark, lambda: state_info(spark, sd))
    assert info["bloom_index"]["files_covered"] == info["n_files"]
    assert info["bloom_index"]["files_uncovered"] == 0
    bare_info, bare_jobs = spark_jobs(spark, lambda: state_info(spark, bare))
    assert "bloom_index" not in bare_info
    assert jobs == bare_jobs, (jobs, bare_jobs)


def _blocks_files(sd: str) -> list[str]:
    bdir = os.path.join(sd, "blocks")
    return sorted(
        os.path.join(bdir, f) for f in os.listdir(bdir) if f.endswith(".parquet")
    )


def _stats(f: str) -> pa.Table:
    """One blocks file's rows without the payload column, via pyarrow."""
    return pq.read_table(
        f, columns=[c for c in pq.read_schema(f).names if c != "payload"]
    )


def _zone_plan(files: list[str], col: str, lo, hi) -> tuple[int, int]:
    """(files with a block whose ``col`` bounds meet [lo, hi], rows of
    those blocks), from each blocks file's stats read with pyarrow; a
    file without zone stats keeps every block. String bounds are bytes
    (a null upper bound is open above)."""
    n_files = n_rows = 0
    for f in files:
        t = _stats(f)
        rows = dict(zip(t["block_id"].to_pylist(), t["n_rows"].to_pylist()))
        keep = set(rows)
        if "vmin_num" in t.column_names:
            kind = "str" if isinstance(lo, bytes) else "num"
            keep = {
                r["block_id"]
                for r in t.filter(pc.equal(t["column"], col)).to_pylist()
                if r[f"vmin_{kind}"] <= hi
                and (r[f"vmax_{kind}"] is None or r[f"vmax_{kind}"] >= lo)
            }
        n_files += bool(keep)
        n_rows += sum(rows[b] for b in keep)
    return n_files, n_rows


def _targeting_jobs(spark, fn):
    """(result of ``fn()``, Spark jobs it ran, jobs it ran before its
    first ``decode_table`` call — a rewrite verb's targeting phase)."""
    from d6tstack_spark.operators import encode

    sc = spark.sparkContext
    real, before = encode.decode_table, []

    def spy(*args, **kwargs):
        if not before:
            group = sc.getLocalProperty("spark.jobGroup.id")
            before.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return real(*args, **kwargs)

    encode.decode_table = spy
    try:
        out, jobs = spark_jobs(spark, fn)
    finally:
        encode.decode_table = real
    return out, jobs, before[0]


def test_planner_job_counts(spark, indexed_state):
    """The stats planners run a pinned number of Spark jobs, each answer
    checked against the blocks files' stats read with pyarrow or against
    a decode: ``explain_decode`` is one census job for a range, a Bloom
    point and no WHERE; ``fast_profile``, ``fast_min_max`` and
    ``state_info`` read the stats under their known schema; the
    targeting phase of ``update_where`` and ``purge_deletes`` (every job
    before the rewrite decodes) is one census job."""
    from d6tstack_spark.plans.checkpoint import delete_where
    from d6tstack_spark.plans.explain import explain_decode
    from d6tstack_spark.plans.fastcount import fast_min_max, fast_profile
    from d6tstack_spark.plans.maintenance import purge_deletes, update_where
    from d6tstack_spark.plans.metrics import state_info

    sd, src = indexed_state
    files = _blocks_files(sd)
    stats = pa.concat_tables(_stats(f).select(
        ["column", "block_id", "raw_bytes", "enc_bytes"]) for f in files)

    ex, jobs = spark_jobs(
        spark, lambda: explain_decode(spark, sd, where="seq >= 1300 AND seq < 1350")
    )
    assert ex["files_after_bloom"] == len(files)
    assert (ex["files_after_zone"], ex["est_rows_scanned"]) == _zone_plan(
        files, "seq", 1300, 1350
    )
    counts = {"explain_range": jobs}

    ex, jobs = spark_jobs(
        spark, lambda: explain_decode(spark, sd, where="conv_id = 'c0007'")
    )
    assert ex["files_after_bloom"] == 1
    assert (ex["files_after_zone"], ex["est_rows_scanned"]) == _zone_plan(
        files, "conv_id", b"c0007", b"c0007"
    )
    counts["explain_point"] = jobs

    ex, jobs = spark_jobs(spark, lambda: explain_decode(spark, sd))
    assert ex["files_after_zone"] == ex["files_total"] == len(files)
    assert ex["est_rows_scanned"] == src.num_rows
    counts["explain_all"] = jobs

    prof, jobs = spark_jobs(spark, lambda: fast_profile(spark, sd).collect())
    assert {r["column"]: tuple(r)[1:] for r in prof} == {
        c: (
            src.num_rows,
            src[c].null_count,
            src.num_rows - src[c].null_count,
            stats.filter(pc.equal(stats["column"], c)).num_rows,
        )
        for c in src.column_names
    }
    counts["fast_profile"] = jobs

    mm, jobs = spark_jobs(spark, lambda: fast_min_max(spark, sd, "seq"))
    want = pc.min_max(src["seq"]).as_py()
    assert (mm["min"], mm["max"]) == (want["min"], want["max"])
    counts["fast_min_max"] = jobs

    info, jobs = spark_jobs(spark, lambda: state_info(spark, sd))
    assert info["n_blocks"] == len(set(stats["block_id"].to_pylist()))
    assert info["raw_bytes"] == pc.sum(stats["raw_bytes"]).as_py()
    assert info["enc_bytes"] == pc.sum(stats["enc_bytes"]).as_py()
    counts["state_info"] = jobs

    # update one row's val; the targeting phase is the census
    where = "seq = 1337"
    rep, jobs, targeting = _targeting_jobs(
        spark, lambda: update_where(spark, sd, {"val": "-1.0"}, where)
    )
    assert rep["matched"] == 1 and rep["files_rewritten"] == 1, rep
    counts["update_targeting"] = targeting
    counts["update"] = jobs
    want = src.set_column(
        src.schema.get_field_index("val"),
        "val",
        pc.if_else(pc.equal(src["seq"], 1337), -1.0, src["val"]),
    )

    # purge a range
    delete_where(spark, sd, "seq >= 2000 AND seq < 2100")
    rep, jobs, targeting = _targeting_jobs(spark, lambda: purge_deletes(spark, sd))
    assert rep["purged_rows"] == 100, rep
    counts["purge_targeting"] = targeting
    counts["purge"] = jobs
    want = want.filter(
        pc.invert(pc.and_(pc.greater_equal(want["seq"], 2000), pc.less(want["seq"], 2100)))
    )
    got = decode_state(spark, sd).toArrow()
    assert _sorted_rows(got, src.column_names) == _sorted_rows(want, src.column_names)
    assert counts == {
        "explain_range": 1,
        "explain_point": 1,
        "explain_all": 1,
        "fast_profile": 3,
        "fast_min_max": 3,
        "state_info": 3,
        "update_targeting": 1,
        "update": 15,
        "purge_targeting": 1,
        "purge": 15,
    }, counts


def test_full_purge_leaves_no_blocks_file(spark, tmp_path):
    """Deleting and purging every row of an 8-file state dir leaves no
    blocks file (the replacement part files hold no rows and are not
    adopted): reads see the empty table version."""
    from d6tstack_spark.plans.checkpoint import delete_where
    from d6tstack_spark.plans.maintenance import purge_deletes

    sd, srcs = str(tmp_path / "state"), []
    for i in range(8):
        p = str(tmp_path / f"part_{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "conv_id": [f"c{i}{j // 4:02d}" for j in range(40)],
                    "turn_idx": pa.array([j % 4 for j in range(40)], pa.int32()),
                    "seq": pa.array([i * 40 + j for j in range(40)], pa.int64()),
                }
            ),
            p,
        )
        srcs.append(p)
        encode_resume(spark, srcs, sd)  # one blocks file per source file
    assert len(_blocks_files(sd)) >= 8

    delete_where(spark, sd, "seq >= 0")
    rep = purge_deletes(spark, sd)
    assert rep["purged_rows"] == 320, rep
    assert _blocks_files(sd) == []
    got = decode_state(spark, sd, columns=["turn_idx", "conv_id"])
    assert got.columns == ["turn_idx", "conv_id"]
    assert got.count() == 0
    rep = fast_count(spark, sd)
    assert (rep["count"], rep["files_total"]) == (0, 0), rep


def test_decode_table_zone_plan_shape(spark):
    """``decode_table(block_filter=)`` classifies each block inside its
    decode task: the executed plan has exactly one Exchange (the
    block_id repartition) and no join, and the rows match pyarrow."""
    from d6tstack_spark.operators.encode import decode_table, encode_table

    src = pa.table(
        {
            "k": pa.array(range(2000), pa.int64()),
            "g": [f"g{j % 7}" for j in range(2000)],
        }
    )
    blocks, man = encode_table(
        spark.createDataFrame(src.to_pandas()), order_cols=("k",),
        target_block_rows=100,
    )
    dnf = [[("k", 250, 420)], [("k", 1900, None)]]
    full = decode_table(blocks, man, block_filter=dnf).toArrow()
    keys = set(full["k"].to_pylist())
    # pruning is block-granular: every wanted row, the source's values,
    # and fewer rows than the table
    assert set(range(250, 421)) | set(range(1900, 2000)) <= keys
    assert len(keys) == full.num_rows < src.num_rows
    assert full["g"].to_pylist() == [f"g{k % 7}" for k in full["k"].to_pylist()]
    # the zone column outside the projection still classifies the blocks
    dec = decode_table(blocks, man, columns=["g"], block_filter=dnf)
    assert sorted(dec.toArrow()["g"].to_pylist()) == sorted(full["g"].to_pylist())
    plan = dec._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def _tasks(spark, fn):
    """(result of ``fn()``, tasks of every stage of the jobs it ran)."""
    sc = spark.sparkContext
    group = f"read-tasks-{next(_GROUPS)}"
    sc.setJobGroup(group, "task count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    stages = [
        s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds
    ]
    return out, [st.getStageInfo(s).numTasks for s in stages]


def test_decode_runs_one_wave(spark, tmp_path):
    """A decode of more blocks files than cores runs one stage of at most
    ``defaultParallelism`` tasks, each decoding a contiguous run of
    files; so do a point read and a fast_count."""
    srcs = []
    sd = str(tmp_path / "state")
    n_files = max(8, spark.sparkContext.defaultParallelism + 2)
    for i in range(n_files):
        p = str(tmp_path / f"part_{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "conv_id": [f"c{i:02d}{j // 4}" for j in range(40)],
                    "turn_idx": pa.array([j % 4 for j in range(40)], pa.int32()),
                }
            ),
            p,
        )
        srcs.append(p)
        encode_resume(spark, srcs, sd)  # one append per source file
    n_blocks_files = len(
        [f for f in os.listdir(os.path.join(sd, "blocks")) if f.endswith(".parquet")]
    )
    assert n_blocks_files >= n_files, n_blocks_files
    build_bloom_index(spark, sd, ["conv_id"])
    dp = spark.sparkContext.defaultParallelism
    for call, want in [
        (lambda: decode_state(spark, sd).count(), 40 * n_files),
        (lambda: decode_state(spark, sd, where="conv_id = 'c031'").count(), 4),
        (lambda: fast_count(spark, sd, where="conv_id = 'c031'")["count"], 4),
    ]:
        got, tasks = _tasks(spark, call)
        assert got == want
        assert tasks and tasks[0] <= dp, tasks


def test_stale_temporary_dir_is_not_read(spark, tmp_path):
    """A writer that died mid-commit leaves ``blocks/_temporary/...``
    behind: reads list only the published files, so a decode with no
    ``encode_resume`` in between returns the source rows."""
    import shutil

    p = str(tmp_path / "src.parquet")
    src = pa.table(
        {
            "conv_id": [f"c{j // 4:03d}" for j in range(400)],
            "turn_idx": pa.array([j % 4 for j in range(400)], pa.int32()),
        }
    )
    pq.write_table(src, p)
    sd = str(tmp_path / "state")
    encode_resume(spark, [p], sd)
    bdir = os.path.join(sd, "blocks")
    orphan = os.path.join(bdir, "_temporary", "0", "part-x.parquet")
    os.makedirs(os.path.dirname(orphan))
    shutil.copy(
        sorted(os.path.join(bdir, f) for f in os.listdir(bdir)
               if f.endswith(".parquet"))[0],
        orphan,
    )
    got = decode_state(spark, sd).toArrow()
    assert _sorted_rows(got, src.column_names) == _sorted_rows(
        src, src.column_names
    )


def test_projection_order_of_empty_reads(spark, indexed_state, tmp_path):
    """``columns`` sets the column order of every read: a point read whose
    value every file's Bloom blob rules out, and an empty table version
    (every row deleted and purged, no blocks file left)."""
    from d6tstack_spark.plans.checkpoint import delete_where
    from d6tstack_spark.plans.maintenance import purge_deletes

    sd, _src = indexed_state
    cols = ["turn_idx", "conv_id"]
    for where in ("conv_id = 'c0007'", "conv_id = 'zzz'"):
        assert decode_state(spark, sd, columns=cols, where=where).columns == cols

    delete_where(spark, sd, "seq >= 0")
    purge_deletes(spark, sd)
    # the purge leaves no blocks file: the empty table version
    bdir = os.path.join(sd, "blocks")
    assert not [f for f in os.listdir(bdir) if f.endswith(".parquet")]
    empty = decode_state(spark, sd, columns=cols)
    assert empty.columns == cols
    assert empty.count() == 0


def _py4j_calls(monkeypatch, fn):
    """(result of ``fn()``, py4j round trips it made from this thread).
    Deferred JVM-object releases run on py4j's finalizer thread, outside
    any one call, and are not counted."""
    import threading

    from py4j.clientserver import ClientServerConnection

    send, me, calls = ClientServerConnection.send_command, threading.get_ident(), []

    def counted(self, command):
        if threading.get_ident() == me:
            calls.append(command)
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counted)
        out = fn()
    return out, len(calls)


def test_read_construction_py4j_calls(spark, tmp_path, monkeypatch):
    """Building a state-dir read's DataFrame costs a fixed number of py4j
    round trips, whatever the file count: the blocks listing is one JVM
    string per directory, and the decoder hands Spark logical types
    (no per-column cast projection). Pinned on a 1-file state dir and on
    one with 16 blocks files made by appends."""
    from d6tstack_spark.operators.encode import _hadoop_list_files

    srcs = []
    for i in range(16):
        p = str(tmp_path / f"part_{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "conv_id": [f"c{i:02d}{j // 4}" for j in range(40)],
                    "turn_idx": pa.array([j % 4 for j in range(40)], pa.int32()),
                    "ts": pa.array(
                        [i * 10**9 + j for j in range(40)], pa.timestamp("us")
                    ),
                    "ok": [j % 3 == 0 for j in range(40)],
                }
            ),
            p,
        )
        srcs.append(p)
    few, many = str(tmp_path / "few"), str(tmp_path / "many")
    encode_resume(spark, srcs[:1], few)
    for i in range(len(srcs)):  # one append per source file
        encode_resume(spark, srcs[: i + 1], many)

    listed, built, n_files = {}, {}, {}
    for sd in (few, many):
        bd = os.path.join(sd, "blocks")
        decode_state(spark, sd)  # warm: first-use parses, imports
        files, listed[sd] = _py4j_calls(
            monkeypatch, lambda: _hadoop_list_files(spark, bd, ".parquet")
        )
        assert sorted(files) == sorted(
            os.path.join(bd, f) for f in os.listdir(bd) if f.endswith(".parquet")
        )
        n_files[sd] = len(files)
        dec, built[sd] = _py4j_calls(monkeypatch, lambda: decode_state(spark, sd))
        assert dec.count() == 40 * (1 if sd == few else 16)
    assert n_files[few] < 4 and n_files[many] >= 16, n_files
    assert listed[few] == listed[many], listed
    assert built[few] == built[many] <= 40, built


def test_mixed_legacy_and_zone_files(spark, tmp_path):
    """A blocks dir where one file predates zone maps (its vmin/vmax
    columns dropped) and the others carry them: zone detection is per
    file, so the legacy file decodes whole and the rest still prune."""
    from d6tstack_spark.operators.encode import decode_parquet_blocks
    from d6tstack_spark.plans.checkpoint import load_manifest
    from d6tstack_spark.plans.explain import explain_decode

    sd, src = _build_state(spark, tmp_path, 3)
    bdir = os.path.join(sd, "blocks")
    files = sorted(
        os.path.join(bdir, f) for f in os.listdir(bdir) if f.endswith(".parquet")
    )
    legacy = None
    for f in files:
        t = pq.read_table(f)
        seq = t.filter(pc.equal(t["column"], "seq"))
        if seq.num_rows and pc.min(seq["vmin_num"]).as_py() <= 1500 <= pc.max(
            seq["vmax_num"]
        ).as_py():
            legacy = f
            pq.write_table(
                t.drop(["vmin_num", "vmax_num", "vmin_str", "vmax_str"]), f
            )
            # the Hadoop checksum sidecar would no longer match
            crc = os.path.join(bdir, f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
    assert legacy is not None
    assert "vmin_num" not in pq.read_schema(legacy).names
    assert any("vmin_num" in pq.read_schema(f).names for f in files)

    cols = src.column_names
    for where, lo, hi in [
        ("seq >= 1100 AND seq < 2500", 1100, 2500),  # spans all three files
        ("seq < 100", 0, 100),  # the legacy file holds no match
        ("seq >= 1500 AND seq < 1510", 1500, 1510),  # only the legacy file
    ]:
        want = src.filter(
            pc.and_(pc.greater_equal(src["seq"], lo), pc.less(src["seq"], hi))
        )
        got = decode_state(spark, sd, where=where).toArrow()
        assert _sorted_rows(got, cols) == _sorted_rows(want, cols), where
        rep = fast_count(spark, sd, where=where)
        assert rep["count"] == want.num_rows, (where, rep)
        # explain_decode reports the per-file classification the decode
        # ran: the legacy file whole, the others by their seq bounds
        ex = explain_decode(spark, sd, where=where)
        assert (ex["files_after_zone"], ex["est_rows_scanned"]) == _zone_plan(
            files, "seq", lo, hi
        ), (where, ex)

    # an unknown block_filter column fails at construction, before any job
    man = load_manifest(sd)
    for build in (
        lambda: decode_state(spark, sd, block_filter=("nope", 0, 1)),
        lambda: decode_parquet_blocks(spark, bdir, man,
                                      block_filter=[("nope", "is_null")]),
    ):
        def call():
            with pytest.raises(ValueError, match="nope"):
                build()

        _, jobs = spark_jobs(spark, call)
        assert jobs == 0


# ---------------------------------------------------------------------------
# the zone classifier against a pyarrow-compute truth
# ---------------------------------------------------------------------------

_MANIFEST = {
    "x": {"ptype": "i64", "logical": None},
    "s": {"ptype": "str", "logical": None},
}
_STATS_SCHEMA = pa.schema(
    [
        ("column", pa.string()),
        ("block_id", pa.int64()),
        ("n_rows", pa.int64()),
        ("null_count", pa.int64()),
        ("vmin_num", pa.float64()),
        ("vmax_num", pa.float64()),
        ("vmin_str", pa.binary()),
        ("vmax_str", pa.binary()),
    ]
)
_BIG = 2**53
_nums = st.sampled_from(
    [-3, -1, 0, 1, 2, 5, _BIG - 1, _BIG, _BIG + 1, _BIG + 3, _BIG + 4]
)
_strs = st.lists(st.sampled_from([0x61, 0x62, 0x63, 0xFF]), max_size=3).map(
    bytes
)


@st.composite
def _stats_row(draw, block_id):
    n = draw(st.integers(1, 4))
    num_lo = draw(st.one_of(st.none(), _nums))
    str_lo = draw(st.one_of(st.none(), _strs))
    return [
        {
            "column": "x", "block_id": block_id, "n_rows": n,
            "null_count": draw(st.integers(0, n)),
            "vmin_num": None if num_lo is None else float(num_lo),
            "vmax_num": draw(st.one_of(st.none(), _nums.map(float))),
            "vmin_str": None, "vmax_str": None,
        },
        {
            "column": "s", "block_id": block_id, "n_rows": n,
            "null_count": draw(st.integers(0, n)),
            "vmin_num": None, "vmax_num": None,
            "vmin_str": str_lo,
            # a null vmax_str with vmin_str set is the 0xFF truncation cut
            "vmax_str": draw(st.one_of(st.none(), _strs)),
        },
    ]


@st.composite
def _stats_and_pred(draw):
    rows = []
    for b in range(draw(st.integers(1, 6))):
        # some blocks carry no row for a column (evolved column)
        rows += [r for r in draw(_stats_row(b)) if draw(st.booleans())]
    col = draw(st.sampled_from(["x", "s"]))
    kind = draw(st.sampled_from(["range", "is_null", "not_null"]))
    if kind != "range":
        pred = (col, kind)
    else:
        vals = _nums if col == "x" else _strs
        pred = (
            col,
            draw(st.one_of(st.none(), vals)),
            draw(st.one_of(st.none(), vals)),
        )
    return rows, pred, draw(st.booleans())


def _row(col: str, block_id: int, **stats) -> dict:
    empty = dict.fromkeys(("vmin_num", "vmax_num", "vmin_str", "vmax_str"))
    return {"column": col, "block_id": block_id, "n_rows": 2,
            "null_count": 0, **empty, **stats}


@settings(max_examples=60, deadline=None)
@given(_stats_and_pred())
# the open-above string bound: a null vmax_str with vmin_str set
@example(([_row("s", 0, vmin_str=b"a")], ("s", b"b", None), False))
# float64 rounding past 2^53: 2^53 + 1 compares as 2^53
@example(([_row("x", 0, vmin_num=float(_BIG), vmax_num=float(_BIG))],
          ("x", _BIG + 1, _BIG + 1), False))
# a stats-less row is kept
@example(([_row("x", 0), _row("x", 1, vmin_num=5.0, vmax_num=5.0)],
          ("x", 0, 1), False))
def test_zone_classifier_twins_agree(case):
    """``_zone_keep_ids_file`` (the task-side classifier, reached through
    ``_zone_task_dnf``) keeps exactly the block ids a pyarrow-compute
    evaluation of the conservative zone rule keeps, including stats-less
    rows, the open-above string bound, float64 rounding of large integer
    bounds, null atoms and files whose stats predate zone maps
    (``absent``: no pruning)."""
    from d6tstack_spark.operators.encode import _zone_keep_ids_file, _zone_task_dnf

    rows, pred, absent = case
    tbl = pa.Table.from_pylist(rows, schema=_STATS_SCHEMA)
    every = set(tbl.column("block_id").to_pylist())
    if absent:
        tbl = tbl.drop(["vmin_num", "vmax_num", "vmin_str", "vmax_str"])

    local = _zone_keep_ids_file(tbl, _zone_task_dnf(_MANIFEST, [[pred]]))
    local = every if local is None else local
    assert local == _zone_truth(tbl, pred, every), (pred, rows)


def _zone_truth(tbl: pa.Table, pred: tuple, every: set) -> set:
    """The conservative zone rule in pyarrow compute: a block qualifies
    when its stats row for the predicate's column has no lower bound, or
    when its bounds may overlap the range (a null upper string bound is
    open above; numeric bounds compare as float64); null predicates read
    ``null_count`` against ``n_rows``. A file without stats columns
    keeps every block."""
    if "vmin_num" not in tbl.column_names:
        return every
    sub = tbl.filter(pc.equal(tbl["column"], pred[0]))
    if len(pred) == 2:
        if pred[1] == "is_null":
            mask = pc.greater(sub["null_count"], 0)
        else:
            mask = pc.less(sub["null_count"], sub["n_rows"])
    else:
        _, lo, hi = pred
        is_str = pred[0] == "s"
        vmin, vmax = (
            (sub["vmin_str"], sub["vmax_str"])
            if is_str
            else (sub["vmin_num"], sub["vmax_num"])
        )

        def bound(v):
            return pa.scalar(v, pa.binary()) if is_str else pa.scalar(
                float(v), pa.float64()
            )

        inside = pa.array([True] * sub.num_rows, pa.bool_())
        if hi is not None:
            inside = pc.and_kleene(inside, pc.less_equal(vmin, bound(hi)))
        if lo is not None:
            above = pc.greater_equal(vmax, bound(lo))
            if is_str:
                above = pc.fill_null(above, True)
            inside = pc.and_kleene(inside, above)
        mask = pc.or_kleene(pc.is_null(vmin), inside)
    return set(sub.filter(mask)["block_id"].to_pylist())
