"""The perfbench workloads: ``table_mixed`` and ``headline_sf0.1``.

Each workload function takes a ``Run`` and fills ``run.e2e`` (untraced
runs) or ``run.layer`` (traced runs), counting every checked operation in
``run.attempted`` / ``run.failed``. Inputs come from the seed alone; every
check runs outside the timed spans.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

import numpy as np

from harness import (
    Box,
    SparkAccounting,
    Spans,
    dir_bytes,
    file_digest,
    log,
    median,
    quantile,
    table_digest,
)

SETUP_REPEATS = 3

BASE_TURNS = 48_000
BASE_FILES = 8
APPEND_TURNS = 6_000
APPEND_POOL = 6  # one append per round: at most this many rounds
MIN_ROUNDS = 2
READ_KINDS = ("point", "range", "scan", "count")
OP_KINDS = ("encode", "decode") + READ_KINDS + ("append",)
MIN_PASSES = 3

# encdec tables of the headline suite whose stored size the headline
# workload reports, with their order columns as __spark_entry__ registers
# them (lineitem, the third, is left out to keep the run short)
ENCDEC_TABLES = {
    "events": ("event_id",),
    "documents": ("doc_id",),
}


class Run:
    """State of one benchmark invocation."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, expected: dict):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.expected = expected
        self.box = Box(work)
        self.spark = None
        self.acct = None
        self.spans = Spans()
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        self.report: dict = {"workload": workload, "seed": seed, "trace": int(trace)}
        self.accounting: list[bool] = []  # accounting check per traced op
        self.setup = {}

    # -- set-up -------------------------------------------------------------

    def build_inputs(self, build, pinned: str | None) -> object:
        """Run ``build(i)`` SETUP_REPEATS times; each returns
        ``(result, digest, datagen seconds)``. Checks that every repeat
        produced the same bytes and, when ``pinned`` is given, the recorded
        ones. Returns the last result and records the median build time."""
        times, gens, digests, result = [], [], [], None
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            result, digest, gen_s = build(i)
            times.append(time.perf_counter() - t0)
            gens.append(gen_s)
            digests.append(digest)
        if len(set(digests)) != 1:
            raise RuntimeError(f"input generation is not deterministic: {digests}")
        if pinned is not None and pinned != digests[0]:
            raise RuntimeError(
                f"inputs for seed {self.seed} changed: {digests[0]} != pinned {pinned}"
            )
        self.report["inputs_sha256"] = digests[0]
        self.report["inputs_pinned"] = pinned is not None
        self.setup["input_build_s"] = median(times)
        self.setup["datagen_s"] = median(gens)
        return result

    def start_spark(self) -> None:
        t0 = time.perf_counter()
        self.spark = self.box.start_spark()
        self.setup["spark_start_s"] = time.perf_counter() - t0
        self.report["box"] = self.box.describe()
        if self.trace:
            self.acct = SparkAccounting(self.spark)

    def finish_setup(self, extra_s: float = 0.0) -> None:
        """``setup_s`` = session start + median input build + ``extra_s``
        (state build, warm-up)."""
        s = self.setup
        s["setup_s"] = s["spark_start_s"] + s["input_build_s"] + extra_s
        self.e2e["setup_s"] = s["setup_s"]
        self.layer["setup.spark_start_s"] = s["spark_start_s"]
        self.layer["setup.datagen_s"] = s["datagen_s"]
        self.layer["setup.input_build_s"] = s["input_build_s"]

    # -- operations ---------------------------------------------------------

    def op(self, label: str, construct, action=None, traced: bool = False):
        """Time one operation: ``construct()`` (driver-side planning, may
        run jobs) then ``action(constructed)``. Traced operations also get
        a job group, module spans and status-store accounting. Returns
        ``(result, record)``."""
        if traced:
            group = self.acct.begin(label)
            self.install_spans()
        t0 = time.time()
        try:
            p0 = time.perf_counter()
            x = construct()
            p1 = time.perf_counter()
            r = action(x) if action is not None else x
            p2 = time.perf_counter()
        finally:
            if traced:
                self.acct.end()
                self.spans.unwrap()
            t1 = time.time()
        rec = {"wall": p2 - p0, "construct": p1 - p0, "action": p2 - p1}
        if traced:
            acc = self.acct.collect(group, t0, t1)
            rec.update(acc)
            outer = t1 - t0
            ok = (
                abs(outer - rec["wall"]) <= 0.1 * outer
                and acc["jobs_inside"]
                and acc["driver_s"] >= -0.02
            )
            self.accounting.append(ok)
            if not ok:
                log(f"accounting check failed for {label}: outer={outer:.4f} {rec}")
        return r, rec

    def install_spans(self) -> None:
        from d6tstack_spark.plans import checkpoint

        self.spans.wrap(checkpoint, "plan_parquet_splits", "plan.splits_s")
        self.spans.wrap(checkpoint, "build_shared_fsst_tables", "plan.fsst_tables_s")

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED: {what}")

    def guarded(self, what: str, fn):
        """Run one operation plus its check; an exception counts as a
        failed operation. Returns fn's result or None."""
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - a failed op is a measured outcome
            self.attempted += 1
            self.failed += 1
            log(f"OPERATION FAILED: {what}: {type(e).__name__}: {e}")
            return None

    def time_left(self, t_start: float) -> bool:
        return time.perf_counter() - t_start < self.seconds

    def stage_layer(self, prefix: str, recs: list[dict], cpu: bool = False) -> None:
        """Per-op medians of the Spark accounting of traced ``recs``."""
        keys = ["jobs", "stages", "tasks", "task_run_s", "driver_s", "shuffle_bytes"]
        if cpu:
            keys.append("task_cpu_s")
        for k in keys:
            self.layer[f"{prefix}.{k}"] = median([r[k] for r in recs])


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def write_parquet_parts(tbl, out_dir: str, n_files: int, prefix: str = "part") -> list[str]:
    """Split ``tbl`` into ``n_files`` consecutive parquet-snappy files with
    8192-row row groups (the layout datagen.write_transcripts uses)."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    per = -(-tbl.num_rows // n_files)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"{prefix}-{i:03d}.parquet")
        pq.write_table(
            tbl.slice(i * per, per), p, compression="snappy", row_group_size=8192
        )
        paths.append(p)
    return paths


def _hash_aggs(columns, key=("conv_id", "turn_idx")) -> list:
    """Order-independent per-column hash aggregates of a transcript frame:
    for each column, the sum of xxhash64(key..., column) over rows and its
    non-null count; plus the row count."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in sorted(columns):
        h = F.xxhash64(*(F.col(k) for k in key), F.col(c))
        aggs.append(F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias(f"h_{c}"))
        aggs.append(F.count(F.col(c)).alias(f"n_{c}"))
    return aggs


def frame_hashes(frames: list) -> list[dict]:
    """Order-independent per-column hashes (``_hash_aggs``) of each
    transcript frame, all computed in one job."""
    from pyspark.sql import functions as F

    df = None
    for i, f in enumerate(frames):
        f = f.withColumn("__frame", F.lit(i))
        df = f if df is None else df.unionByName(f)
    cols = [c for c in df.columns if c != "__frame"]
    rows = {
        r["__frame"]: r.asDict()
        for r in df.groupBy("__frame").agg(*_hash_aggs(cols)).collect()
    }
    out = []
    for i in range(len(frames)):
        r = rows.get(i, {})
        r.pop("__frame", None)
        out.append(r)
    return out


def result_hash(df) -> tuple[int, int]:
    """(rows, order-independent content hash) of a query result. Floating
    columns are hashed at 10 significant digits, so summation order inside
    aggregates cannot change the hash."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.format_string("%.9e", c)
        elif isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            c = F.to_json(c)
        cols.append(c)
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF))).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"] or 0)


def same_rows(got, exp, keys: list[str]) -> bool:
    got = got.select(exp.column_names).cast(exp.schema)
    order = [(k, "ascending") for k in keys]
    return got.sort_by(order).equals(exp.sort_by(order))


# ---------------------------------------------------------------------------
# table_mixed
# ---------------------------------------------------------------------------


def _ts_literal(us: int) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)
    return t.strftime("%Y-%m-%d %H:%M:%S")


def table_mixed(run: Run) -> None:
    """The life of a state dir, in rounds. Each round bulk-encodes the
    whole base input into a fresh state dir (``encode``), fully decodes
    the main Bloom-indexed state dir through a noop sink (``decode``), runs
    one ``point``, ``range``, ``scan`` and ``count`` read on it in a seeded
    order, and appends one file to it (encode_resume + refresh_bloom_index).
    Every read is checked against the same filter evaluated with pyarrow
    over the in-memory source, appended rows included; every state dir is
    checked column by column against its source after the loop."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from d6tstack_spark.datagen import TOOLS, gen_transcripts
    from d6tstack_spark.plans.bloomidx import build_bloom_index, refresh_bloom_index
    from d6tstack_spark.plans.checkpoint import decode_state, encode_resume
    from d6tstack_spark.plans.explain import explain_decode
    from d6tstack_spark.plans.fastcount import fast_count

    def build(i):
        t0 = time.perf_counter()
        tbl = gen_transcripts(BASE_TURNS + APPEND_TURNS * APPEND_POOL, run.seed)
        gen_s = time.perf_counter() - t0
        d = os.path.join(run.work, f"input{i}")
        base = tbl.slice(0, BASE_TURNS)
        pool = [
            tbl.slice(BASE_TURNS + j * APPEND_TURNS, APPEND_TURNS)
            for j in range(APPEND_POOL)
        ]
        base_paths = write_parquet_parts(base, d, BASE_FILES)
        pool_paths = [
            write_parquet_parts(t, d, 1, f"append{j:03d}")[0] for j, t in enumerate(pool)
        ]
        return (base, pool, base_paths, pool_paths), table_digest(tbl), gen_s

    pins = run.expected.get("inputs", {}).get(run.workload, {})
    base, pool, base_paths, pool_paths = run.build_inputs(build, pins.get(str(run.seed)))
    run.start_spark()
    spark = run.spark
    sd = os.path.join(run.work, "state")

    t0 = time.perf_counter()
    encode_resume(spark, base_paths, sd)
    build_bloom_index(spark, sd, ["conv_id"])
    state_build_s = time.perf_counter() - t0
    run.layer["setup.state_build_s"] = state_build_s

    rng = np.random.default_rng(run.seed)
    state = {"cur": base, "paths": list(base_paths), "appended": 0}
    fresh = []  # (state dir, encode summary) of every bulk encode

    def plan_read(kind: str):
        """(where, columns, sort keys, expected arrow table or count)."""
        cur = state["cur"]
        if kind == "point":
            cid = cur.column("conv_id")[int(rng.integers(cur.num_rows))].as_py()
            exp = cur.filter(pc.equal(cur["conv_id"], cid))
            return f"conv_id = '{cid}'", None, ["conv_id", "turn_idx"], exp
        if kind == "range":
            us = cur.column("ts").cast(pa.int64())[int(rng.integers(cur.num_rows))].as_py()
            lo, hi = us - us % 3_600_000_000, us - us % 3_600_000_000 + 3_600_000_000
            ts = cur["ts"].cast(pa.int64())
            exp = cur.filter(pc.and_(pc.greater_equal(ts, lo), pc.less(ts, hi)))
            where = f"ts >= TIMESTAMP '{_ts_literal(lo)}' AND ts < TIMESTAMP '{_ts_literal(hi)}'"
            return where, None, ["conv_id", "turn_idx"], exp
        if kind == "scan":
            k = int(rng.integers(20, 60))
            mask = pc.and_(pc.equal(cur["role"], "system"), pc.equal(cur["turn_idx"], k))
            exp = cur.filter(mask).select(["conv_id", "ts"])
            return f"role = 'system' AND turn_idx = {k}", ["conv_id", "ts"], ["conv_id"], exp
        tool = str(TOOLS[int(rng.integers(len(TOOLS)))])
        k = int(rng.integers(5, 50))
        mask = pc.and_(pc.equal(cur["tool"], tool), pc.less(cur["turn_idx"], k))
        return f"tool = '{tool}' AND turn_idx < {k}", None, None, cur.filter(mask).num_rows

    def read(kind: str, traced: bool):
        where, cols, keys, exp = plan_read(kind)
        if kind == "count":
            got, rec = run.op(
                kind, lambda: fast_count(spark, sd, where=where), traced=traced
            )
            run.check(got["count"] == exp, f"count {where}: {got['count']} != {exp}")
            rec["returned"] = exp
        else:
            got, rec = run.op(
                kind,
                lambda: decode_state(spark, sd, columns=cols, where=where),
                lambda df: df.toArrow(),
                traced=traced,
            )
            run.check(same_rows(got, exp, keys), f"{kind} read {where}")
            rec["returned"] = exp.num_rows
        rec["where"], rec["columns"] = where, cols
        return rec

    def full_decode(traced: bool):
        _, rec = run.op(
            "decode",
            lambda: decode_state(spark, sd),
            lambda df: df.write.format("noop").mode("overwrite").save(),
            traced=traced,
        )
        rec["rows"] = state["cur"].num_rows
        return rec

    def bulk_encode(traced: bool):
        out = os.path.join(run.work, f"fresh{len(fresh)}")
        summary, rec = run.op(
            "encode", lambda: encode_resume(spark, base_paths, out), traced=traced
        )
        run.check(
            summary["encoded"] == summary["planned"] > 0,
            f"bulk encode planned {summary['planned']} encoded {summary['encoded']}",
        )
        fresh.append(out)
        return rec

    def append(traced: bool):
        j = state["appended"]
        paths = state["paths"] + [pool_paths[j]]
        summary, rec = run.op(
            "append",
            lambda: encode_resume(spark, paths, sd),
            lambda s: (s, refresh_bloom_index(spark, sd)),
            traced=traced,
        )
        s, r = summary
        run.check(s["encoded"] > 0 and r["files_refreshed"] > 0, f"append {j}: {s} {r}")
        state["paths"] = paths
        state["cur"] = pa.concat_tables([state["cur"], pool[j]])
        state["appended"] = j + 1
        return rec

    def do(kind: str, traced: bool):
        if kind == "encode":
            return bulk_encode(traced)
        if kind == "decode":
            return full_decode(traced)
        if kind == "append":
            return append(traced)
        return read(kind, traced)

    # warm-up: every read kind once on the main state, checked like any read
    for kind in ("decode",) + READ_KINDS:
        run.guarded(f"warm-up {kind}", lambda: do(kind, False))
    run.finish_setup(time.perf_counter() - t0)
    run.layer["setup.warmup_s"] = time.perf_counter() - t0 - state_build_s

    recs = []
    t_start = time.perf_counter()
    rnd = 0
    while rnd < MIN_ROUNDS or (run.time_left(t_start) and rnd < APPEND_POOL):
        # traced runs alternate traced and untraced rounds
        traced = run.trace and rnd % 2 == 0
        kinds = ["encode", "decode"]
        kinds += [READ_KINDS[i] for i in rng.permutation(len(READ_KINDS))]
        kinds.append("append")
        for kind in kinds:
            rec = run.guarded(f"round {rnd} {kind}", lambda: do(kind, traced))
            if rec is not None:
                rec.update(kind=kind, traced=traced)
                recs.append(rec)
        rnd += 1

    # every bulk-encoded dir and the main state against their sources,
    # column by column
    def hashes():
        states = [decode_state(spark, d) for d in fresh + [sd]]
        sources = [spark.read.parquet(*p) for p in (base_paths, state["paths"])]
        return frame_hashes(states + sources)

    got = run.guarded("state hashes", hashes)
    if got is not None:
        *states, base_h, main_h = got
        for d, h in zip(fresh + [sd], states):
            want = main_h if d == sd else base_h
            run.check(h == want, f"decoded {d} differs from its source files")
    stored = dir_bytes(os.path.join(fresh[0], "blocks")) if fresh else 0
    run.e2e["stored_bytes_per_parquet_byte"] = stored / sum(
        os.path.getsize(p) for p in base_paths
    )

    def walls(kind, traced=None):
        return [
            r["wall"] for r in recs
            if r["kind"] == kind and (traced is None or r["traced"] == traced)
        ]

    reads = [r["wall"] for r in recs if r["kind"] in ("decode",) + READ_KINDS]
    run.samples.update(
        rounds=rnd, reads=len(reads), **{k: len(walls(k)) for k in OP_KINDS}
    )
    run.report["op_walls_s"] = {k: walls(k) for k in OP_KINDS}
    run.e2e["read_p50_s"] = quantile(reads, 0.5)
    run.e2e["read_p75_s"] = quantile(reads, 0.75)
    run.e2e["suite_s"] = sum(median(walls(k)) for k in OP_KINDS)
    if not run.trace:
        return

    tr = [r for r in recs if r["traced"]]

    def traced_of(*kinds):
        return [r for r in tr if r["kind"] in kinds]

    enc, dec, app = traced_of("encode"), traced_of("decode"), traced_of("append")
    rd = traced_of(*READ_KINDS)
    run.layer["encode.turns_per_s"] = BASE_TURNS / median([r["wall"] for r in enc])
    run.layer["decode.turns_per_s"] = median([r["rows"] / r["wall"] for r in dec])
    run.stage_layer("encode", enc, cpu=True)
    run.stage_layer("decode", dec)
    for kind in READ_KINDS:
        run.layer[f"read.{kind}.p50_s"] = median(walls(kind, True))
    for name, src in (("construct_s", "construct"), ("action_s", "action"),
                      ("jobs", "jobs"), ("stages", "stages"), ("driver_s", "driver_s")):
        run.layer[f"read.{name}"] = median([r[src] for r in rd])
    run.layer["append.p50_s"] = median(walls("append", True))
    run.layer["append.encode_s"] = median([r["construct"] for r in app])
    run.layer["bloom.refresh_s"] = median([r["action"] for r in app])
    for name in ("jobs", "stages", "driver_s"):
        run.layer[f"append.{name}"] = median([r[name] for r in app])
    # planner spans cover the traced bulk encodes and appends
    n_plans = len(enc) + len(app)
    run.layer["plan.splits_s"] = run.spans.total["plan.splits_s"] / n_plans
    run.layer["plan.fsst_tables_s"] = run.spans.total["plan.fsst_tables_s"] / n_plans

    # pruning, planned by explain_decode outside the timed spans (on the
    # final state, which holds every file the reads saw)
    kept = total = bloom_kept = bloom_total = scanned = returned = 0
    for r in rd:
        if r["kind"] == "count":
            continue
        ex = explain_decode(spark, sd, where=r["where"], columns=r["columns"])
        kept += ex["files_after_zone"]
        total += ex["files_total"]
        if r["kind"] == "point":
            bloom_kept += ex["files_after_bloom"]
            bloom_total += ex["files_total"]
        scanned += ex["est_rows_scanned"]
        returned += max(r["returned"], 1)
    run.layer["read.files_kept_frac"] = kept / total if total else 0.0
    run.layer["read.bloom_files_kept_frac"] = bloom_kept / bloom_total if bloom_total else 0.0
    run.layer["read.rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0

    # tracing cost: traced vs untraced medians, summed over operation kinds
    tr_sum = sum(median(walls(k, True)) for k in OP_KINDS)
    un_sum = sum(median(walls(k, False)) for k in OP_KINDS)
    run.layer["trace_overhead_frac"] = tr_sum / un_sum - 1


# ---------------------------------------------------------------------------
# headline_sf0.1
# ---------------------------------------------------------------------------


def headline_queries():
    """The frozen headline suite: (ordered names, name -> query function)."""
    import __spark_entry__ as entry_mod
    import bench

    qs = dict(entry_mod.queries())
    qs["minhash_lsh_pairs"] = bench._production_minhash
    return list(bench.HEADLINE), qs


def headline(run: Run) -> None:
    """The 13-query headline suite over the read-only sf0.1 tables; each
    query is constructed then counted, as bench.py does. The seed permutes
    the query order of every pass."""
    from bench import SF_DIR as sf_dir

    if not os.path.isdir(sf_dir):
        raise FileNotFoundError(f"headline tables not found: {sf_dir}")
    files = sorted(f for f in os.listdir(sf_dir) if f.endswith(".parquet"))

    def build(i):
        digests = {f: file_digest(os.path.join(sf_dir, f)) for f in files}
        return None, json_digest(digests), 0.0

    pinned = run.expected.get("sf0.1_files")
    run.build_inputs(build, json_digest(pinned) if pinned is not None else None)
    names, qs = headline_queries()
    exp = run.expected.get("headline", {})
    run.start_spark()
    spark = run.spark
    rng = np.random.default_rng(run.seed)

    # warm-up: every query once, checked against the recorded row count
    # and content hash ...
    t0 = time.perf_counter()
    for q in names:
        got = run.guarded(f"verify {q}", lambda: result_hash(qs[q](spark, sf_dir)))
        if got is not None:
            want = exp.get(q)
            run.check(
                want is not None and [got[0], got[1]] == [want["rows"], want["hash"]],
                f"{q}: got rows/hash {got}, recorded {want}",
            )

    def run_pass(label: str, traced: bool) -> dict:
        """One pass in a seeded order, each query constructed then counted
        and its row count checked. Returns query -> record."""
        recs = {}
        for q in rng.permutation(names):
            q = str(q)

            def one():
                n, rec = run.op(q, lambda: qs[q](spark, sf_dir), lambda df: df.count(), traced=traced)
                want = exp.get(q, {}).get("rows")
                run.check(n == want, f"{q}: {n} rows, recorded {want}")
                return rec

            rec = run.guarded(f"{label} {q}", one)
            if rec is not None:
                recs[q] = rec
        return recs

    # ... then one untimed pass of the timed kind: the first counted pass
    # of a fresh JVM is a quarter to a half slower than the ones after it
    run_pass("warm-up pass", False)
    run.finish_setup(time.perf_counter() - t0)
    run.layer["setup.warmup_s"] = time.perf_counter() - t0

    walls = {q: [] for q in names}
    tr_recs = {q: [] for q in names}
    pass_walls = []  # (traced, pass wall)
    persisted = []
    t_start = time.perf_counter()
    p = 0
    while p < MIN_PASSES or run.time_left(t_start):
        # traced runs alternate traced and untraced passes
        traced = run.trace and p % 2 == 0
        p0 = time.perf_counter()
        for q, rec in run_pass(f"pass {p}", traced).items():
            walls[q].append(rec["wall"])
            if traced:
                tr_recs[q].append(rec)
        pass_walls.append((traced, time.perf_counter() - p0))
        if run.acct is not None:
            persisted.append(run.acct.persisted())
        p += 1

    run.samples.update(passes=p, queries=sum(len(v) for v in walls.values()))
    run.report["persisted_after_pass"] = persisted
    run.report["query_walls_s"] = walls
    all_walls = [w for v in walls.values() for w in v]
    run.e2e["read_p50_s"] = quantile(all_walls, 0.5)
    run.e2e["read_p75_s"] = quantile(all_walls, 0.75)
    run.e2e["suite_s"] = sum(median(v) for v in walls.values())
    t0 = time.perf_counter()
    run.e2e["stored_bytes_per_parquet_byte"] = encdec_stored_ratio(run, sf_dir)
    run.report["stored_ratio_s"] = time.perf_counter() - t0
    if not run.trace:
        return

    shuffle = 0
    for q in names:
        rs = tr_recs[q]
        for k2, src in (("construct_s", "construct"), ("action_s", "action"),
                        ("jobs", "jobs"), ("stages", "stages")):
            run.layer[f"headline.{q}.{k2}"] = median([r[src] for r in rs])
        shuffle += median([r["shuffle_bytes"] for r in rs])
    run.layer["headline.shuffle_bytes"] = shuffle
    n_rdds, rdd_bytes = run.acct.persisted()
    run.layer["headline.persisted_rdds_end"] = n_rdds
    run.layer["headline.storage_bytes_end"] = rdd_bytes
    tr = [w for t, w in pass_walls if t]
    un = [w for t, w in pass_walls if not t]
    run.layer["trace_overhead_frac"] = median(tr) / median(un) - 1 if tr and un else 0.0


def json_digest(obj) -> str:
    import hashlib
    import json

    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()


def encdec_stored_ratio(run: Run, sf_dir: str) -> float:
    """Blocks bytes written for the suite's encdec tables over their
    parquet bytes (sliced encoder, the engine's block sink)."""
    from d6tstack_spark.operators.encode_sliced import encode_parquet_files_sliced
    from d6tstack_spark.operators.sinks import write_blocks

    stored = source = 0
    for table, order in ENCDEC_TABLES.items():
        src = os.path.join(sf_dir, f"{table}.parquet")
        out = os.path.join(run.work, f"blocks-{table}")
        blocks, _ = encode_parquet_files_sliced(run.spark, src, order_cols=order)
        write_blocks(blocks, out)
        stored += dir_bytes(out)
        source += os.path.getsize(src)
        shutil.rmtree(out)
    return stored / source


WORKLOADS = {
    "table_mixed": table_mixed,
    "headline_sf0.1": headline,
}
