"""Blocks-dir maintenance: small-file compaction.

Streaming epochs (`streaming/encode_stream.py`) and batched resume
commits (`plans/checkpoint.py::encode_resume(checkpoint_every=...)`)
append blocks in many independent jobs — at 100 TB that accretes
thousands of small parquet files, and the shuffle-free bulk decode plans
ONE TASK PER FILE, so file count is task count. Compaction rewrites a
blocks dir into ~target-sized files while preserving the two invariants
the decode paths rely on:

- per-file complete blocks (``repartitionByRange`` on ``block_id`` keeps
  every row of a block in one output partition = one file, and the sink
  re-checks by rejecting ``maxRecordsPerFile``),
- file-level zone-map locality (range partitioning keeps id-adjacent
  blocks together, so the driver's stats-only file pruning stays as
  selective as before).

Safety: takes the writer lease FIRST (the same lock the resumable
encoder uses when the dir belongs to a state dir), then writes the
compacted table NEXT TO the live dir, verifies row parity, and swaps
with a rename-aside (live → ``.old``, new → live, drop ``.old``) — a
crash at any point leaves either the live dir intact or a completed
``.old``/``.compact`` pair that the next run rolls back or clears under
the lease. The ``_manifest.json`` sidecar (self-describing dirs) is
MOVED into the new dir before the swap, so it survives on any
Hadoop-resolvable filesystem. This mirrors Iceberg's
``rewrite_data_files`` maintenance action for the reference's
ingest-to-parquet output (d6tstack combine_csv.py writes one parquet
per input CSV — same small-file accretion at scale).

The writer lease itself (O_EXCL file + pid liveness, shared with
``encode_resume``) assumes the lease home is on a locally-mounted path;
on object stores, front compaction with your scheduler's own mutual
exclusion, as for every other writer in this engine.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession, Window, functions as F

# deterministic test hook: raise once N adoption renames of a purge apply
# are done (none left to do counts as done), to drill the journal-replay
# recovery path (a real kill lands in a metadata-ops window too narrow to
# hit reliably from outside)
_TEST_CRASH_AFTER_ADOPTS: int | None = None

# purge-rewritten block ids live above this bit; file-derived ids stay
# below it (enforced by checkpoint._assign_file_indices' 2^21-file budget)
_REWRITE_ID_BIT = 1 << 61


def compact_blocks(
    spark: SparkSession,
    blocks_dir: str,
    target_file_bytes: int = 256 << 20,
    dry_run: bool = False,
) -> dict:
    """Rewrite ``blocks_dir`` into ``ceil(total_bytes/target)`` files.

    Returns a report dict: ``files_before/files_after/bytes/compacted``.
    No-op (``compacted=False``) when the dir already has that few files.
    Raises if another writer holds the dir's lease. Concurrent READERS
    of the old listing fail with the decoder's explicit "blocks dir
    changed under the running decode" error rather than silently missing
    data — schedule compaction like any other table maintenance."""
    from d6tstack_spark.operators.encode import (
        BLOCKS_SCHEMA,
        _hadoop_list_files,
    )
    from d6tstack_spark.operators.sinks import write_blocks
    from d6tstack_spark.plans.checkpoint import (
        _LeaseHeartbeat,
        _acquire_lease,
    )

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def _hpath(p: str):
        return jvm.org.apache.hadoop.fs.Path(p)

    live = blocks_dir.rstrip("/")
    fs = _hpath(live).getFileSystem(conf)
    tmp = live + ".compact"
    aside = live + ".old"

    # the lease must live OUTSIDE the blocks dir (a stray writer.lock
    # inside would poison plain parquet reads of the dir). A state dir
    # (parent carries format.json) uses the STATE dir lease — the same
    # lock encode_resume takes, so compaction and resume serialize; a
    # plain blocks dir uses a sibling .lease dir. Acquired BEFORE any
    # cleanup so two compactors cannot clear each other's tmp dirs.
    parent = os.path.dirname(live)
    state_like = fs.exists(_hpath(parent + "/format.json"))
    lease_home = parent if state_like else live + ".lease"
    lease = _acquire_lease(lease_home)
    hb = _LeaseHeartbeat(lease)
    try:
        if state_like:
            # an in-flight purge commit must finish before the listing is
            # trustworthy (adopt/remove file moves are journaled forward)
            from d6tstack_spark.plans.checkpoint import _replay_purge_journal

            _replay_purge_journal(spark, parent)
        # crash recovery, oldest window first: a run that died between
        # rename-aside and rename-in left no live dir — roll the aside
        # copy back (it is the verified original). A completed swap that
        # died before dropping the aside just leaves it to clear.
        if fs.exists(_hpath(aside)):
            if not fs.exists(_hpath(live)):
                fs.rename(_hpath(aside), _hpath(live))
            else:
                if state_like:
                    # crashed after swap, before retiring: finish the
                    # retention move so old snapshots stay readable
                    from d6tstack_spark.plans.checkpoint import (
                        _retired_blocks_dir,
                    )

                    rd = _retired_blocks_dir(parent)
                    fs.mkdirs(_hpath(rd))
                    for p in _hadoop_list_files(spark, aside, ".parquet"):
                        b = os.path.basename(p)
                        if not fs.rename(_hpath(p), _hpath(rd + "/" + b)):
                            fs.delete(_hpath(p), False)
                fs.delete(_hpath(aside), True)
        if fs.exists(_hpath(tmp)):  # stale sibling from a crashed run
            # a crash between the sidecar move and the swap left the only
            # _manifest.json inside tmp — rescue it before clearing
            tside = _hpath(tmp + "/_manifest.json")
            lside = _hpath(live + "/_manifest.json")
            if (
                fs.exists(_hpath(live))
                and fs.exists(tside)
                and not fs.exists(lside)
            ):
                fs.rename(tside, lside)
            fs.delete(_hpath(tmp), True)

        # one globStatus call returns paths AND sizes (no per-file RPC)
        sts = fs.globStatus(_hpath(live + "/*.parquet"))
        paths = [s.getPath().toString() for s in (sts or [])]
        total_bytes = sum(s.getLen() for s in (sts or []))
        if not paths:
            raise ValueError(f"no blocks parquet files under {blocks_dir}")
        n_out = max(1, -(-total_bytes // target_file_bytes))
        report = {
            "files_before": len(paths),
            "files_after": min(len(paths), int(n_out)),
            "bytes": int(total_bytes),
            "compacted": len(paths) > n_out,
        }
        if dry_run or not report["compacted"]:
            report["compacted"] = False if dry_run else report["compacted"]
            return report

        blocks = spark.read.schema(BLOCKS_SCHEMA).parquet(live)
        rows_before = blocks.count()
        compacted = blocks.repartitionByRange(int(n_out), "block_id")
        write_blocks(compacted, tmp)
        rows_after = spark.read.schema(BLOCKS_SCHEMA).parquet(tmp).count()
        if rows_after != rows_before:
            fs.delete(_hpath(tmp), True)
            raise RuntimeError(
                f"compaction row parity check failed ({rows_before} → "
                f"{rows_after}); original dir untouched"
            )
        # move the sidecar INTO the new dir pre-swap (Hadoop-FS rename —
        # works on any resolvable scheme, no local-path content read)
        sidecar = _hpath(live + "/_manifest.json")
        if fs.exists(sidecar):
            fs.rename(sidecar, _hpath(tmp + "/_manifest.json"))
        # rename-aside swap: at no instant is the data deleted while it
        # is the only copy
        fs.rename(_hpath(live), _hpath(aside))
        fs.rename(_hpath(tmp), _hpath(live))
        if state_like:
            # snapshot retention: the replaced files move to retired/
            # (older snapshots still resolve them) instead of vanishing
            from d6tstack_spark.plans.checkpoint import _retired_blocks_dir

            rd = _retired_blocks_dir(parent)
            fs.mkdirs(_hpath(rd))
            for p in _hadoop_list_files(spark, aside, ".parquet"):
                b = os.path.basename(p)
                if not fs.rename(_hpath(p), _hpath(rd + "/" + b)):
                    fs.delete(_hpath(p), False)
        fs.delete(_hpath(aside), True)
        if state_like:
            # snapshot barrier: every file was replaced (same contract as
            # the purge/cluster commit)
            from d6tstack_spark.plans.checkpoint import (
                _record_snapshot,
                _snapshots_path,
            )

            if os.path.exists(_snapshots_path(parent)):
                _record_snapshot(
                    parent,
                    "rewrite",
                    [
                        os.path.basename(p)
                        for p in _hadoop_list_files(spark, live, ".parquet")
                    ],
                )
    finally:
        hb.release()
        try:
            os.unlink(lease)
        except FileNotFoundError:
            pass
        if not state_like:
            import shutil

            shutil.rmtree(lease_home, ignore_errors=True)
    report["files_after"] = len(
        _hadoop_list_files(spark, blocks_dir, ".parquet")
    )
    return report


def _zorder_value(decoded, cluster_by: tuple[str, ...]):
    """Z-order (Morton) key: bit-interleave of per-key bucket ranks, so
    EVERY cluster key gets locality instead of only the first
    lexicographic one. Scale-safe construction: per-key [lo, hi] comes
    from one approxQuantile pass (clipped at p0.5/p99.5 so outliers do
    not crush the bucket resolution), the bucket is a single
    ``width_bucket`` expression per row (whole-stage codegen, no window,
    no shuffle), and the interleave is a constant-folded sum of shifted
    bits. Strings map to an order-preserving numeric proxy (first 7
    bytes, big-endian) — exact order within the prefix, which is what
    zone pruning keys on anyway. Nulls sort to bucket 0 (z-cell edge,
    like NULLS FIRST)."""
    nbits = max(4, min(16, 32 // max(1, len(cluster_by))))
    nbuckets = 1 << nbits
    proxies = []
    dtypes = dict(decoded.dtypes)
    for c in cluster_by:
        dt = dtypes[c]
        if dt in ("string", "binary"):
            enc = f"encode({c}, 'utf-8')" if dt == "string" else c
            proxies.append(F.expr(
                f"cast(conv(substring(rpad(hex(substring({enc}, 1, 7)), "
                f"14, '0'), 1, 14), 16, 10) as double)"
            ))
        elif dt.startswith("timestamp") or dt == "date":
            proxies.append(F.col(c).cast("timestamp").cast("double"))
        else:
            proxies.append(F.col(c).cast("double"))
    stats = decoded.select(
        *[p.alias(f"__p{i}") for i, p in enumerate(proxies)]
    )
    cuts = stats.stat.approxQuantile(
        [f"__p{i}" for i in range(len(proxies))], [0.005, 0.995], 0.001
    )
    # approxQuantile ignores nulls and returns an EMPTY list for an
    # all-null column (e.g. a just-evolved key) — normalize before unpack
    cuts = [c if len(c) == 2 else (None, None) for c in cuts]
    zv = F.lit(0).cast("long")
    for k, (p, (lo, hi)) in enumerate(zip(proxies, cuts)):
        if lo is None or hi is None or not (hi > lo):
            continue  # constant or all-null key: contributes nothing
        # null-to-lo BEFORE clamping: least/greatest SKIP nulls, which
        # would otherwise land null rows in the TOP bucket against the
        # documented NULLS-FIRST contract
        clamped = F.greatest(
            F.least(F.coalesce(p, F.lit(lo)), F.lit(hi)), F.lit(lo)
        )
        bucket = F.width_bucket(
            clamped, F.lit(lo), F.lit(hi), F.lit(nbuckets - 1)
        ) - F.lit(1)
        bucket = F.coalesce(bucket, F.lit(0)).cast("long")
        for i in range(nbits):
            zv = zv + F.shiftleft(
                F.shiftright(bucket, i).bitwiseAND(F.lit(1)),
                i * len(cluster_by) + k,
            )
    return zv


def cluster_blocks(
    spark: SparkSession,
    state_dir: str,
    cluster_by: tuple[str, ...],
    target_block_rows: int = 65536,
    partitions: int | None = None,
    method: str = "linear",
) -> dict:
    """Physically re-sort an encoded state dir on ``cluster_by`` — the
    ``OPTIMIZE ... ZORDER``/``rewrite_data_files(sort)`` maintenance
    action for the block format. A dir ingested in arrival order (the
    transcript case: time) prunes beautifully on time but not at all on,
    say, ``conv_id``; when the query pattern shifts, one clustering
    rewrite makes the zone maps selective on the new key:
    ``repartitionByRange`` on the cluster key gives every output FILE a
    disjoint key range (the driver's stats-only file pruning), and the
    within-partition sort gives every BLOCK inside a file a disjoint
    subrange (the task-local block pruning).

    This is a full rewrite by definition — I/O scales with the table, so
    schedule it like any compaction. Crash-safety rides the exact same
    journaled roll-forward commit as :func:`purge_deletes` (replacement
    written + parity-verified next to the live dir, journal as the commit
    point, adopt-then-remove replay). The original base ids are recorded
    so ``encode_resume`` keeps treating every source split as complete;
    later appends land unclustered (their zone stats still prune — just
    per-append) until the next clustering pass.

    Pending delete tombstones are refused — run
    :func:`purge_deletes` first so "rows this rewrite materializes" and
    "tombstones it clears" cannot diverge. After a successful rewrite the
    manifest's schema-evolution markers are dropped: every block now
    physically carries every column, so the decoder's exact
    incomplete-block check (and IS NULL zone pruning) is restored for
    the whole dir.

    Returns ``{rows, files_before, files_after, blocks_written}``."""
    from d6tstack_spark.operators.encode import (
        _hadoop_list_files,
        decode_table,
        encode_table,
        file_census,
    )
    from d6tstack_spark.plans.checkpoint import (
        _LeaseHeartbeat,
        _acquire_lease,
        _blocks_dir,
        _check_or_stamp_format,
        _manifest_path,
        _replay_purge_journal,
        load_deletes,
        load_manifest,
    )

    lease = _acquire_lease(state_dir)
    hb = _LeaseHeartbeat(lease)
    try:
        _replay_purge_journal(spark, state_dir)
        # the base-id extraction below is id-scheme-dependent — refuse
        # legacy dirs the same way encode_resume does
        _check_or_stamp_format(state_dir, has_blocks=True)
        if load_deletes(state_dir):
            raise ValueError(
                f"state dir {state_dir} has pending delete tombstones; "
                "run plans.maintenance.purge_deletes() first, then cluster"
            )
        manifest = load_manifest(state_dir)
        missing = [c for c in cluster_by if c not in manifest]
        if not cluster_by or missing:
            raise ValueError(
                f"cluster_by {cluster_by} not all present in the stored "
                f"manifest (missing: {missing})"
            )
        bd = _blocks_dir(state_dir)
        paths = sorted(_hadoop_list_files(spark, bd, ".parquet"))
        if not paths:
            raise ValueError(f"no blocks parquet files under {bd}")
        n_before = sum(c.rows for c in file_census(spark, paths))
        report = {"rows": int(n_before), "files_before": len(paths)}
        if n_before == 0:
            report.update({"files_after": len(paths), "blocks_written": 0})
            return report
        # ~16 blocks per output file unless the caller sizes it —
        # range partitioning needs a target partition count up front
        n_parts = partitions or max(
            spark.sparkContext.defaultParallelism,
            -(-int(n_before) // (target_block_rows * 16)),
        )
        if method not in ("linear", "zorder"):
            raise ValueError(f"unknown cluster method {method!r}")
        decoded = decode_table(_blocks_frame(spark, paths), manifest)
        if method == "zorder" and len(cluster_by) > 1:
            # Morton layout: every file AND every block spans a narrow
            # range of EVERY cluster key (the per-block sort below only
            # reorders rows inside one size-bounded block, so block zone
            # stats keep the z-locality the partition sort established)
            zv = _zorder_value(decoded, cluster_by)
            clustered = (
                decoded.withColumn("__zv", zv)
                .repartitionByRange(int(n_parts), "__zv")
                .sortWithinPartitions("__zv")
                .drop("__zv")
            )
        else:
            clustered = decoded.repartitionByRange(
                int(n_parts), *cluster_by
            ).sortWithinPartitions(*cluster_by)
        new_blocks, new_manifest = encode_table(
            clustered,
            order_cols=tuple(cluster_by),
            mode="local",
            target_block_rows=target_block_rows,
        )

        def _types(m: dict) -> dict:
            return {k: (v["ptype"], v["logical"]) for k, v in m.items()}

        if _types(new_manifest) != _types(manifest):
            raise RuntimeError(
                "re-encode manifest drifted from the stored manifest — "
                "decode→encode is no longer schema-stable; aborting"
            )
        n_new = _commit_rewritten_blocks(
            spark,
            state_dir,
            affected=paths,
            new_blocks=new_blocks,
            base_ids=_base_ids(spark, paths),
            n_expected=int(n_before),
            tomb_ids=[],
            parity_label=f"expected all {n_before} rows",
        )
        evolved = [c for c, m in manifest.items() if m.get("evolved")]
        if evolved:
            clean = {
                k: {kk: vv for kk, vv in v.items() if kk != "evolved"}
                for k, v in manifest.items()
            }
            mp = _manifest_path(state_dir)
            with open(mp + ".tmp", "w") as f:
                json.dump(clean, f, indent=1)
            os.replace(mp + ".tmp", mp)
        report.update(
            {
                "files_after": len(_hadoop_list_files(spark, bd, ".parquet")),
                "blocks_written": int(n_new),
                "evolved_markers_cleared": len(evolved),
                "method": method,
            }
        )
        return report
    finally:
        hb.release()


def purge_deletes(
    spark: SparkSession,
    state_dir: str,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    target_block_rows: int = 65536,
) -> dict:
    """Physically apply pending delete tombstones — predicate
    (:func:`~d6tstack_spark.plans.checkpoint.delete_where`) and equality
    (:func:`~d6tstack_spark.plans.checkpoint.delete_keys`) — by
    rewriting ONLY the block files that can contain matching rows.

    Targeting: the union-of-tombstones predicate compiles to zone-filter
    DNF (``compile_where``), and one census job — the decode tasks' own
    per-file classifier (:func:`~d6tstack_spark.operators.encode.
    file_census`) — keeps just the files the Bloom sidecar cannot rule
    out and that hold ≥1 overlapping block. Every other file is
    untouched — never read, never rewritten — so I/O scales with the
    delete's footprint, not the table:
    a point delete on a 100 TB state dir rewrites a handful of files. An
    unprunable predicate degrades to a full rewrite, honestly reported
    via ``files_rewritten``/``files_scanned``.

    Rewrite: affected files decode (shuffled :func:`decode_table` path —
    fine for maintenance, the payload is only the affected slice), the
    keep-rows re-encode as fresh blocks, and block ids remap into a
    reserved space (bit 61 | persistent counter — disjoint from
    file-derived ids forever, across any number of purges). The original
    base ids are appended to ``<state>/rewritten`` so ``encode_resume``
    still treats their source splits as complete (re-encoding them would
    resurrect the deleted rows).

    Commit is journaled: replacements are fully written NEXT TO the live
    dir and row-parity-verified BEFORE ``purge_commit.json`` records the
    adopt/remove file lists; only then files move. A crash at any point
    either leaves the live dir untouched (pre-journal) or rolls forward
    idempotently (journal replay at every writer entry point); readers
    (:func:`decode_state`) refuse while a journal exists rather than see
    a half-applied listing. Same maintenance contract as
    :func:`compact_blocks`: schedule it, don't race readers."""
    from d6tstack_spark.operators.encode import (
        _hadoop_list_files,
        _zone_task_dnf,
        decode_table,
        encode_table,
        file_census,
    )
    from d6tstack_spark.plans.checkpoint import (
        _LeaseHeartbeat,
        _acquire_lease,
        _blocks_dir,
        _check_or_stamp_format,
        _clear_tombstones,
        _replay_purge_journal,
        _tombstone_zone_dnf,
        load_deletes,
        load_manifest,
    )

    lease = _acquire_lease(state_dir)
    hb = _LeaseHeartbeat(lease)
    try:
        replayed = _replay_purge_journal(spark, state_dir)
        deletes = load_deletes(state_dir)
        if deletes:
            # rewritten-base bookkeeping is id-scheme-dependent — refuse
            # legacy dirs the same way encode_resume does
            _check_or_stamp_format(state_dir, has_blocks=True)
        report: dict = {
            "tombstones": len(deletes),
            "replayed_journal": replayed,
            "matched": 0,
            "files_rewritten": 0,
            "files_scanned": 0,
        }
        if not deletes:
            return report
        manifest = load_manifest(state_dir)
        missing = [c for c in order_cols if c not in manifest]
        if not order_cols or missing:
            raise ValueError(
                f"order_cols {order_cols} not all present in the stored "
                f"manifest (missing: {missing}); pass the ordering columns "
                "the state dir was encoded with"
            )
        bd = _blocks_dir(state_dir)
        paths = sorted(_hadoop_list_files(spark, bd, ".parquet"))
        tomb_ids = [d["id"] for d in deletes]
        if not paths:
            _clear_tombstones(state_dir, tomb_ids)
            _record_tombstone_clear(state_dir, tomb_ids, [])
            return report
        report["files_scanned"] = len(paths)
        ksets = [d for d in deletes if d.get("kind") == "keys"]

        # ---- plan: which files can contain a matching row — zone DNF of
        # the OR of all predicate tombstones, plus each key set's
        # per-column [min, max] envelope branch, and the Bloom sidecar:
        # equality atoms in predicate tombstones and SMALL single-column
        # key sets (the GDPR "forget this conversation" shape) can rule
        # out files zone ranges keep. A file needs rewriting if ANY
        # tombstone can match it, so the Bloom verdict is the union of
        # per-tombstone plans; a tombstone the index cannot speak for
        # keeps everything. Both run in one census job, which also
        # tallies each file's rows. Any unprunable part degrades to a
        # full rewrite, reported honestly.
        from d6tstack_spark.plans.bloomidx import (
            _MAX_IN_PROBES,
            AnyBloomPlan,
            bloom_plan,
            bloom_value_plan,
        )

        dnf, pred_cw = _tombstone_zone_dnf(spark, state_dir, manifest, deletes)
        plans = []
        if pred_cw is not None:
            plans.append(bloom_plan(state_dir, manifest, pred_cw))
        for d in ksets:
            cols = list(d["cols"])
            vals = None
            if len(cols) == 1:
                rows = (
                    spark.read.parquet(os.path.join(state_dir, d["path"]))
                    .select(cols[0])
                    .distinct()
                    .limit(_MAX_IN_PROBES + 1)
                    .collect()
                )
                if len(rows) <= _MAX_IN_PROBES:
                    vals = [r[0] for r in rows]
            plans.append(
                None
                if vals is None  # multi-column or large key set
                else bloom_value_plan(state_dir, manifest, cols[0], vals)
            )
        census = file_census(
            spark,
            paths,
            _zone_task_dnf(manifest, dnf or None),
            None
            if any(p is None for p in plans)
            else AnyBloomPlan(tuple(plans)),
        )
        n_rows = {c.path: c.rows for c in census}
        affected = [
            c.path
            for c in census
            if c.bloom and (not dnf or c.kept_blocks)
        ]
        # ---- sequence scoping (Iceberg semantics): a tombstone applies
        # only to files first seen BEFORE its delete record, so rows
        # appended after the delete are never purged by it. Files in no
        # pending tombstone's scope drop out of the rewrite entirely.
        import math

        from d6tstack_spark.plans.checkpoint import (
            _first_seen_ids,
            load_snapshots,
        )

        recs = load_snapshots(state_dir)
        seen = _first_seen_ids(recs, recs[-1]["id"]) if recs else {}
        rec_of: dict = {}
        for r in recs:
            if r["op"] == "delete":
                for t in r.get("tombstones", []):
                    # a rollback-re-added tombstone carries an explicit
                    # seq pinning its ORIGINAL scope — honoring only the
                    # late re-add record id here would pull post-delete
                    # files into its purge scope and delete their rows
                    rec_of[t["id"]] = t.get("seq", r["id"])
        fgroups: dict[frozenset, list[str]] = {}
        for p in affected:
            add = seen.get(os.path.basename(p), math.inf)
            s = frozenset(
                d["id"]
                for d in deletes
                # no record (legacy/unscoped) → applies everywhere
                if rec_of.get(d["id"]) is None or add < rec_of[d["id"]]
            )
            if s:
                fgroups.setdefault(s, []).append(p)
        affected = sorted(p for g in fgroups.values() for p in g)
        if not affected:
            _clear_tombstones(state_dir, tomb_ids)
            _record_tombstone_clear(state_dir, tomb_ids, paths)
            return report

        # ---- decode the affected slice per scope group; each group's
        # keep-rows apply exactly its tombstones (NOT its predicates,
        # anti-joined against its key sets) and the matched count falls
        # out as n_before - n_kept
        n_before = sum(n_rows[p] for p in affected)
        dmap = {d["id"]: d for d in deletes}
        kept = None
        for s, ps in fgroups.items():
            gdec = decode_table(_blocks_frame(spark, ps), manifest)
            gpreds = [dmap[i] for i in s if dmap[i].get("kind") != "keys"]
            gksets = [dmap[i] for i in s if dmap[i].get("kind") == "keys"]
            if gpreds:
                gexpr = " OR ".join(
                    f"coalesce(({d['where']}), false)" for d in gpreds
                )
                gdec = gdec.filter(F.expr(f"NOT ({gexpr})"))
            for d in gksets:
                gdec = gdec.join(
                    spark.read.parquet(os.path.join(state_dir, d["path"])),
                    on=list(d["cols"]),
                    how="left_anti",
                )
            kept = gdec if kept is None else kept.unionByName(gdec)
        n_kept = kept.count()
        n_matched = n_before - n_kept
        report["matched"] = int(n_matched)
        if n_matched == 0:
            _clear_tombstones(state_dir, tomb_ids)
            _record_tombstone_clear(state_dir, tomb_ids, paths)
            return report

        # ---- re-encode the keep-rows as fresh blocks under rewritten ids
        kept = kept.repartition(
            max(spark.sparkContext.defaultParallelism, len(affected))
        )
        new_blocks, new_manifest = encode_table(
            kept,
            order_cols=order_cols,
            mode="local",
            target_block_rows=target_block_rows,
        )
        def _types(m: dict) -> dict:
            # compare ptype/logical only: the stored manifest may carry
            # schema-evolution markers the frame-derived one never has
            return {k: (v["ptype"], v["logical"]) for k, v in m.items()}

        if _types(new_manifest) != _types(manifest):
            raise RuntimeError(
                "re-encode manifest drifted from the stored manifest — "
                "decode→encode is no longer schema-stable; aborting purge"
            )
        n_new_blocks = _commit_rewritten_blocks(
            spark,
            state_dir,
            affected=affected,
            new_blocks=new_blocks,
            base_ids=_base_ids(spark, affected),
            n_expected=n_before - n_matched,
            tomb_ids=tomb_ids,
            parity_label=(
                f"expected {n_before} - {n_matched} matched = "
                f"{n_before - n_matched}"
            ),
        )
        report["files_rewritten"] = len(affected)
        report["blocks_written"] = int(n_new_blocks)
        report["purged_rows"] = int(n_matched)
        return report
    finally:
        hb.release()



def update_where(
    spark: SparkSession,
    state_dir: str,
    set_exprs: dict[str, str],
    where: str,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    target_block_rows: int = 65536,
) -> dict:
    """Row-level ``UPDATE state SET col = expr, ... WHERE <where>`` on an
    encoded state dir — the third leg of the DML triangle next to
    :func:`~d6tstack_spark.plans.checkpoint.delete_where` and
    :func:`~d6tstack_spark.plans.checkpoint.upsert_files`.

    SQL semantics throughout: only rows where the predicate is TRUE are
    updated (NULL keeps the row unchanged), and every SET expression
    evaluates against the PRE-update row — ``SET a = b, b = a`` swaps,
    it does not chain. Assigned values cast to the column's stored type;
    the schema never changes.

    Targeting mirrors :func:`purge_deletes`: the predicate compiles to
    zone-filter DNF and a Bloom plan, and one census job keeps just the
    files with ≥1 overlapping block, so I/O scales with the update's
    footprint, not the table — a point update on a 100 TB dir rewrites
    a handful of files. An unprunable predicate (or one over a
    schema-evolved column, where pre-evolution blocks have no stats row
    to prune by) degrades
    to a full rewrite, honestly reported. Commit rides the same
    journaled roll-forward as purge/cluster (replacements parity-checked
    next to the live dir before the journal lands; readers refuse
    mid-commit; crash rolls forward idempotently) and records a rewrite
    snapshot barrier, so time travel still reads the pre-update rows and
    ``decode_state_diff(changelog=True)`` reports each updated row as a
    delete+insert pair.

    Pending delete tombstones are refused — purge first, so "rows this
    rewrite materializes" and "rows tombstones hide" cannot diverge.

    Reference analog: d6tstack mutates stacked frames only through
    whole-file re-ingest (``combine_csv.py`` re-runs the pipeline); this
    is the targeted-rewrite version of that at block granularity."""
    from d6tstack_spark.operators.encode import (
        _hadoop_list_files,
        _logical_struct,
        _strip_evolved_unprunable,
        _zone_task_dnf,
        compile_where,
        decode_table,
        encode_table,
        file_census,
    )
    from d6tstack_spark.plans.bloomidx import bloom_plan
    from d6tstack_spark.plans.checkpoint import (
        _LeaseHeartbeat,
        _acquire_lease,
        _blocks_dir,
        _check_or_stamp_format,
        _manifest_path,
        _replay_purge_journal,
        load_deletes,
        load_manifest,
    )

    if not set_exprs:
        raise ValueError("set_exprs is empty — nothing to update")
    lease = _acquire_lease(state_dir)
    hb = _LeaseHeartbeat(lease)
    try:
        _replay_purge_journal(spark, state_dir)
        if not os.path.exists(_manifest_path(state_dir)):
            raise ValueError(
                f"{state_dir} is not an encoded state dir (no manifest.json)"
            )
        _check_or_stamp_format(state_dir, has_blocks=True)
        if load_deletes(state_dir):
            raise ValueError(
                f"state dir {state_dir} has pending delete tombstones; "
                "run plans.maintenance.purge_deletes() first, then update"
            )
        manifest = load_manifest(state_dir)
        bad = [c for c in set_exprs if c not in manifest]
        if bad:
            raise ValueError(
                f"SET columns {bad} not present in the stored manifest"
            )
        missing = [c for c in order_cols if c not in manifest]
        if not order_cols or missing:
            raise ValueError(
                f"order_cols {order_cols} not all present in the stored "
                f"manifest (missing: {missing}); pass the ordering columns "
                "the state dir was encoded with"
            )
        # eager validation: analyze the predicate AND every SET expression
        # against the decoded schema now — typos fail here, not mid-rewrite
        empty = spark.createDataFrame([], _logical_struct(manifest))
        empty.filter(F.expr(where))
        for c, e in set_exprs.items():
            empty.select(F.expr(e).cast(empty.schema[c].dataType))

        bd = _blocks_dir(state_dir)
        paths = sorted(_hadoop_list_files(spark, bd, ".parquet"))
        report: dict = {
            "where": where,
            "matched": 0,
            "files_rewritten": 0,
            "files_scanned": len(paths),
        }
        if not paths:
            return report

        # ---- plan: which files can contain a matching row — the same
        # census as purge_deletes (zone DNF and Bloom plan in one job),
        # with the same schema-evolution degradation: stats-less
        # pre-evolution blocks must not be silently excluded when the
        # predicate can match their null rows
        cw = compile_where(spark, where, manifest)
        dnf = _strip_evolved_unprunable(cw.dnf or None, manifest)
        census = file_census(
            spark,
            paths,
            _zone_task_dnf(manifest, dnf),
            bloom_plan(state_dir, manifest, cw),
        )
        affected = [
            c for c in census if c.bloom and (not dnf or c.kept_blocks)
        ]
        if not affected:
            return report
        n_before = sum(c.rows for c in affected)
        affected = [c.path for c in affected]
        decoded = decode_table(_blocks_frame(spark, affected), manifest)
        cond = F.coalesce(F.expr(where).cast("boolean"), F.lit(False))
        n_matched = decoded.filter(cond).count()
        report["matched"] = int(n_matched)
        if n_matched == 0:
            return report

        # one select so every SET expression reads the PRE-update row
        updated = decoded.select(
            *[
                F.when(
                    cond, F.expr(set_exprs[c]).cast(decoded.schema[c].dataType)
                )
                .otherwise(F.col(c))
                .alias(c)
                if c in set_exprs
                else F.col(c)
                for c in decoded.columns
            ]
        )
        updated = updated.repartition(
            max(spark.sparkContext.defaultParallelism, len(affected))
        )
        new_blocks, new_manifest = encode_table(
            updated,
            order_cols=order_cols,
            mode="local",
            target_block_rows=target_block_rows,
        )

        def _types(m: dict) -> dict:
            return {k: (v["ptype"], v["logical"]) for k, v in m.items()}

        if _types(new_manifest) != _types(manifest):
            raise RuntimeError(
                "re-encode manifest drifted from the stored manifest — "
                "a SET expression changed a column's type; aborting update"
            )
        n_new = _commit_rewritten_blocks(
            spark,
            state_dir,
            affected=affected,
            new_blocks=new_blocks,
            base_ids=_base_ids(spark, affected),
            n_expected=int(n_before),
            tomb_ids=[],
            parity_label=f"expected all {n_before} rows of the slice",
        )
        report["files_rewritten"] = len(affected)
        report["blocks_written"] = int(n_new)
        return report
    finally:
        hb.release()


def _blocks_frame(spark: SparkSession, paths: list[str]):
    """The blocks files ``paths`` as a DataFrame under the blocks schema,
    with no schema inference (a file written before zone maps reads null
    stats, which prune nothing)."""
    from d6tstack_spark.operators.encode import BLOCKS_SCHEMA

    return spark.read.schema(BLOCKS_SCHEMA).parquet(*paths)


def _base_ids(spark: SparkSession, paths: list[str]):
    """The distinct base ids (``block_id >> SUB_BLOCK_BITS``) of the
    blocks in ``paths``: the source splits a rewrite replaces."""
    from d6tstack_spark.operators.encode import SUB_BLOCK_BITS

    return (
        spark.read.schema("block_id long")
        .parquet(*paths)
        .selectExpr(f"shiftright(block_id, {SUB_BLOCK_BITS}) AS block_id")
        .distinct()
    )


def _record_tombstone_clear(
    state_dir: str, tomb_ids: list, paths: list[str]
) -> None:
    """A purge that cleared tombstones WITHOUT rewriting any file (the
    predicates physically matched nothing) still terminates the
    tombstones' snapshot visibility: record a rewrite record with the
    unchanged full listing + the cleared ids, so time travel after this
    point stops re-applying them."""
    from d6tstack_spark.plans.checkpoint import (
        _record_snapshot,
        load_snapshots,
    )

    if not tomb_ids or not load_snapshots(state_dir):
        return
    _record_snapshot(
        state_dir,
        "rewrite",
        [os.path.basename(p) for p in paths],
        tombstones=list(tomb_ids),
    )


def _commit_rewritten_blocks(
    spark: SparkSession,
    state_dir: str,
    affected: list[str],
    new_blocks,
    base_ids,
    n_expected: int,
    tomb_ids: list,
    parity_label: str,
) -> int:
    """The journaled roll-forward commit shared by :func:`purge_deletes`
    and :func:`cluster_blocks`: remap the re-encoded blocks into the
    reserved bit-61 id space (persistent per-state counter), write them
    NEXT TO the live dir, verify row parity BEFORE anything becomes
    visible, then commit. Order matters: (1) the rewritten-bases append
    and the id counter bump are harmless if orphaned by a crash (resume
    just skips splits whose blocks still exist); (2) the journal is the
    commit point; (3) apply is adopt-then-remove, replayable forward by
    ``_replay_purge_journal`` at every writer entry point. Returns the
    number of replacement blocks. Caller holds the writer lease."""
    from d6tstack_spark.operators.encode import (
        SUB_BLOCK_BITS,
        BLOCKS_SCHEMA,
        _hadoop_list_files,
        file_census,
    )
    from d6tstack_spark.operators.sinks import write_blocks
    from d6tstack_spark.plans.checkpoint import (
        _blocks_dir,
        _clear_tombstones,
        _purge_journal_path,
        _purge_seq_path,
        _rewritten_dir,
        _write_lineage,
    )

    bd = _blocks_dir(state_dir)
    try:
        with open(_purge_seq_path(state_dir)) as f:
            base_ord = json.load(f)["next"]
    except FileNotFoundError:
        base_ord = 0
    ids = new_blocks.select("block_id").distinct()
    # global row_number over the distinct id list only — block count of
    # the affected slice, not rows; the payload never enters this window
    mapping = ids.withColumn(
        "new_id",
        F.lit(_REWRITE_ID_BIT).cast("long")
        + F.shiftleft(
            (F.lit(base_ord) + F.row_number().over(
                Window.orderBy("block_id")
            )).cast("long"),
            SUB_BLOCK_BITS,
        ),
    )
    remapped = (
        new_blocks.join(F.broadcast(mapping), "block_id")
        .drop("block_id")
        .withColumnRenamed("new_id", "block_id")
        .select(*[f.name for f in BLOCKS_SCHEMA.fields])
    )

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def _p(p: str):
        return jvm.org.apache.hadoop.fs.Path(p)

    fs = _p(bd).getFileSystem(conf)
    tmp = bd + ".purge"
    if fs.exists(_p(tmp)):  # unjournaled leftovers of a crashed run
        fs.delete(_p(tmp), True)
    write_blocks(remapped, tmp)

    # ---- verify row parity BEFORE anything becomes visible; only the
    # replacement files that hold rows are adopted (an empty rewrite
    # writes a zero-row part file, which would outlive every row)
    census = file_census(
        spark, sorted(_hadoop_list_files(spark, tmp, ".parquet"))
    )
    n_tmp = sum(c.rows for c in census)
    if n_tmp != n_expected:
        fs.delete(_p(tmp), True)
        raise RuntimeError(
            f"rewrite parity check failed: replacement holds {n_tmp} "
            f"rows, {parity_label}; original dir untouched"
        )
    n_new_blocks = sum(c.blocks for c in census)

    base_ids.write.mode("append").parquet(_rewritten_dir(state_dir))
    sp = _purge_seq_path(state_dir)
    with open(sp + ".tmp", "w") as f:
        json.dump({"next": base_ord + n_new_blocks}, f)
    os.replace(sp + ".tmp", sp)
    journal = {
        "remove": [os.path.basename(p) for p in affected],
        "adopt": [os.path.basename(c.path) for c in census if c.rows],
        "tombstones": tomb_ids,
    }
    jp = _purge_journal_path(state_dir)
    with open(jp + ".tmp", "w") as f:
        json.dump(journal, f, indent=1)
    os.replace(jp + ".tmp", jp)
    from d6tstack_spark.plans.checkpoint import _retired_blocks_dir

    rd = _retired_blocks_dir(state_dir)
    fs.mkdirs(_p(rd))
    adopt, drill = journal["adopt"], _TEST_CRASH_AFTER_ADOPTS
    for b in adopt[:drill]:
        fs.rename(_p(tmp + "/" + b), _p(bd + "/" + b))
    if drill is not None and drill <= len(adopt):
        raise RuntimeError("purge crash drill: died mid-apply")
    for b in journal["remove"]:
        # RETIRE the replaced files (snapshot retention: older snapshots
        # stay readable until expire_snapshots); fall back to delete if a
        # prior crashed replay already moved this basename
        if not fs.rename(_p(bd + "/" + b), _p(rd + "/" + b)):
            fs.delete(_p(bd + "/" + b), False)
    if fs.exists(_p(tmp)):
        fs.delete(_p(tmp), True)
    os.unlink(jp)
    _clear_tombstones(state_dir, tomb_ids)

    # refresh lineage from the post-rewrite state (a crash between journal
    # clear and here leaves lineage stale until the next resume rebuilds
    # it — metadata only)
    _write_lineage(spark, state_dir, 0.0)
    # snapshot barrier: a rewrite REMOVES files, so time travel resets
    # here. A crash in the tiny window before this line is caught at
    # snapshot-resolve time (resolved files are existence-checked).
    from d6tstack_spark.plans.checkpoint import _record_snapshot

    _record_snapshot(
        state_dir,
        "rewrite",
        [
            os.path.basename(p)
            for p in _hadoop_list_files(spark, bd, ".parquet")
        ],
        tombstones=list(tomb_ids),
    )
    return int(n_new_blocks)


def upsert_files(
    spark: SparkSession,
    state_dir: str,
    new_paths: list[str] | str,
    key_cols: tuple[str, ...] = ("conv_id",),
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> dict:
    """MERGE new parquet files into an encoded state dir by key: rows
    whose ``key_cols`` tuple appears in the new files are REPLACED, rows
    with new keys are inserted — re-delivered conversations overwrite
    their old turns, the natural upsert for a transcript table.

    Composition of the engine's own primitives, each already crash-safe:
    :func:`~d6tstack_spark.plans.checkpoint.delete_keys` (equality
    tombstone on the new files' distinct keys) → :func:`purge_deletes`
    (zone-targeted physical rewrite of only the files holding old
    versions) → ``encode_resume`` (the appends; prior splits all skip via
    the resume anti-join). A crash between steps leaves a consistent
    state dir that either finishes the purge on the next writer entry or
    simply re-runs this function.

    New content must arrive under NEW paths: the state dir records
    path → file-index forever (block ids embed it), so re-delivering
    under an already-recorded path would be silently skipped by resume —
    refused here instead."""
    from d6tstack_spark.plans.checkpoint import (
        _files_path,
        delete_keys,
        encode_resume,
    )

    if isinstance(new_paths, str):
        new_paths = [new_paths]
    recorded: dict = {}
    fp = _files_path(state_dir)
    if os.path.exists(fp):
        with open(fp) as f:
            recorded = json.load(f)
    clash = sorted(set(new_paths) & set(recorded))
    if clash:
        raise ValueError(
            f"upsert files must arrive under NEW paths; {clash[0]} is "
            "already recorded in the state dir (its splits would be "
            "skipped as complete, silently dropping the new content)"
        )
    if recorded:
        # Complete any in-flight append FIRST: a prior upsert/resume that
        # crashed mid-append left recorded sources with missing splits,
        # and the key tombstone below only covers files appended BEFORE
        # its delete record (sequence scoping). Completing them here puts
        # their rows under the tombstone; finishing them after it would
        # resurrect the old version next to the new one. No-op (anti-join
        # planning only) when everything is already complete.
        encode_resume(
            spark, sorted(recorded), state_dir, order_cols=order_cols
        )
    keys = spark.read.parquet(*new_paths).select(*key_cols)
    drep = delete_keys(spark, state_dir, keys, key_cols=key_cols)
    prep = (
        purge_deletes(spark, state_dir, order_cols=order_cols)
        if drep["recorded"]
        else {"matched": 0, "files_rewritten": 0, "files_scanned": 0}
    )
    full = sorted(set(recorded) | set(new_paths))
    append = encode_resume(spark, full, state_dir, order_cols=order_cols)
    return {"replaced": prep, "appended": append, "n_keys": drep["n_keys"]}


def upsert_frame(
    spark: SparkSession,
    state_dir: str,
    df,
    key_cols: tuple[str, ...] = ("conv_id",),
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    staging_dir: str | None = None,
) -> dict:
    """DataFrame-level MERGE: like :func:`upsert_files`, but the new
    content is any DataFrame (a stream epoch, a join result, a repair
    batch) rather than files on disk.

    The frame is materialized ONCE under a unique staging path (default
    ``<state>/staged/upsert-<uuid>``) and then rides the file-based
    upsert unchanged. Staging is not an implementation wart — the
    engine's resume bookkeeping is source-file-based (block ids embed a
    file index; ``files.json`` records path → index forever), so the
    staged copy is what makes the upsert REPLAYABLE after a crash and
    auditable after the fact. Staged files join the table's source
    lineage: keep them as long as the state dir lives, or point
    ``staging_dir`` at wherever your sources belong."""
    import uuid

    from d6tstack_spark.operators.encode import _hadoop_list_files

    stage = staging_dir or os.path.join(state_dir, "staged")
    sub = os.path.join(stage, f"upsert-{uuid.uuid4().hex}")
    df.write.parquet(sub)
    paths = sorted(_hadoop_list_files(spark, sub, ".parquet"))
    if not paths:
        raise ValueError("upsert frame is empty — nothing to merge")
    rep = upsert_files(
        spark, state_dir, paths, key_cols=key_cols, order_cols=order_cols
    )
    rep["staged"] = sub
    return rep


def expire_snapshots(
    spark: SparkSession, state_dir: str, keep_from: int
) -> dict:
    """Reclaim time-travel storage: drop every snapshot older than
    ``keep_from`` and delete the retired block files / retired key sets
    only those snapshots needed (Iceberg's ``expire_snapshots``). Live
    blocks are never touched — only the ``retired/`` area shrinks.

    Metadata-only planning: the snapshot log is small (one record per
    writer commit), so the needed-file computation is a driver-side set
    union over the kept snapshots; deletion is one os.remove per expired
    retired file. Returns ``{"expired_before", "retired_files_removed",
    "retired_keysets_removed", "retired_files_kept"}``."""
    import shutil

    from d6tstack_spark.plans.checkpoint import (
        _LeaseHeartbeat,
        _acquire_lease,
        _expire_path,
        _replay_purge_journal,
        _retired_blocks_dir,
        _retired_keys_dir,
        _visible_tombstones,
        load_snapshots,
        resolve_snapshot,
    )

    lease = _acquire_lease(state_dir)
    hb = _LeaseHeartbeat(lease)
    try:
        _replay_purge_journal(spark, state_dir)
        recs = load_snapshots(state_dir)
        if not recs:
            raise ValueError(f"{state_dir} has no snapshot log")
        ids = [r["id"] for r in recs]
        if keep_from not in ids:
            raise ValueError(
                f"unknown snapshot {keep_from}; log has ids "
                f"{ids[0]}..{ids[-1]}"
            )
        # files any KEPT snapshot resolves; everything else in retired/
        # belongs only to expired snapshots
        needed: set[str] = set()
        for sid in ids:
            if sid >= keep_from:
                needed |= set(resolve_snapshot(state_dir, sid))
        # write the watermark BEFORE deleting (crash-safe order: a
        # watermark without deletion refuses reads it could still serve —
        # conservative; deletion without watermark would serve missing
        # files as hard errors)
        with open(_expire_path(state_dir) + ".tmp", "w") as f:
            json.dump({"expired_before": int(keep_from)}, f)
        os.replace(_expire_path(state_dir) + ".tmp", _expire_path(state_dir))
        rd = _retired_blocks_dir(state_dir)
        removed = kept = 0
        if os.path.isdir(rd):
            for b in sorted(os.listdir(rd)):
                if not b.endswith(".parquet") or b.startswith("."):
                    continue
                if b in needed:
                    kept += 1
                else:
                    os.remove(os.path.join(rd, b))
                    crc = os.path.join(rd, f".{b}.crc")
                    if os.path.exists(crc):  # Hadoop checksum sidecar
                        os.remove(crc)
                    removed += 1
        # retired key sets: needed iff the tombstone is still visible at
        # some kept snapshot (its clearing rewrite is AFTER keep_from)
        vis_ids = set()
        for sid in ids:
            if sid >= keep_from:
                vis_ids |= {
                    t["id"] for t in _visible_tombstones(recs, sid)
                }
        kdirs_removed = 0
        kroot = os.path.join(state_dir, "retired", "keys")
        if os.path.isdir(kroot):
            for name in sorted(os.listdir(kroot)):
                try:
                    tid = int(name)
                except ValueError:
                    continue
                if tid not in vis_ids:
                    shutil.rmtree(
                        _retired_keys_dir(state_dir, tid),
                        ignore_errors=True,
                    )
                    kdirs_removed += 1
        return {
            "expired_before": int(keep_from),
            "retired_files_removed": removed,
            "retired_files_kept": kept,
            "retired_keysets_removed": kdirs_removed,
        }
    finally:
        hb.release()


def rollback_to_snapshot(
    spark: SparkSession, state_dir: str, snapshot: int
) -> dict:
    """Restore the table's LIVE state to what snapshot ``snapshot``
    resolved — Iceberg's ``rollback`` (reference analog: d6tstack's
    re-run-from-scratch recovery story, combine_csv.py's "re-ingest the
    originals", done here as a metadata+file-move operation instead).

    Physical plan: files visible at the target but retired since are
    COPIED back from ``retired/`` (copies, not moves — older snapshots
    keep resolving through the retired area), files live now but not
    visible at the target are retired. Tombstones visible at the target
    are re-added as pending with an explicit ``seq`` preserving their
    ORIGINAL sequence scope (rows appended between the tombstone and the
    target stay out of its reach, exactly as they were at the target);
    tombstones recorded after the target are dropped.

    Crash safety rides the purge commit journal: restores are staged
    into the sibling ``.purge`` dir, the journal is the commit point,
    and :func:`~d6tstack_spark.plans.checkpoint._replay_purge_journal`
    rolls the apply forward from any writer entry point (decode refuses
    while the journal pends, as for any rewrite). History is preserved:
    rollback APPENDS a rewrite record (plus a delete record for re-added
    tombstones) — it never truncates the snapshot log, so rolling
    forward again is just another ``rollback_to_snapshot``.

    The manifest (schema) stays CURRENT: rolling back across a schema
    evolution restores the old rows, and columns added after the target
    read as null for them — the same contract as live reads of
    pre-evolution blocks. Returns ``{"rolled_back_to",
    "files_restored", "files_retired", "tombstones_readded",
    "tombstones_dropped", "snapshot"}``."""
    import shutil

    from d6tstack_spark.operators.encode import _hadoop_list_files
    from d6tstack_spark.plans.checkpoint import (
        _LeaseHeartbeat,
        _acquire_lease,
        _blocks_dir,
        _next_tombstone_id,
        _purge_journal_path,
        _record_snapshot,
        _replay_purge_journal,
        _resolve_keys_path,
        _retired_blocks_dir,
        _sweep_snapshot_appends,
        _visible_tombstones,
        _write_deletes,
        load_deletes,
        load_snapshots,
        resolve_snapshot,
    )

    lease = _acquire_lease(state_dir)
    hb = _LeaseHeartbeat(lease)
    try:
        _replay_purge_journal(spark, state_dir)
        _sweep_snapshot_appends(spark, state_dir)
        recs = load_snapshots(state_dir)
        if not recs:
            raise ValueError(f"{state_dir} has no snapshot log")
        latest = recs[-1]["id"]
        target = set(resolve_snapshot(state_dir, snapshot))  # checks expiry
        bd = _blocks_dir(state_dir)
        live = {
            os.path.basename(p)
            for p in _hadoop_list_files(spark, bd, ".parquet")
        }
        restore = sorted(target - live)
        retire = sorted(live - target)
        rd = _retired_blocks_dir(state_dir)
        gone = [b for b in restore if not os.path.exists(os.path.join(rd, b))]
        if gone:
            raise ValueError(
                f"snapshot {snapshot} needs {len(gone)} retired file(s) that "
                f"no longer exist (first: {gone[0]}) — reclaimed by "
                "expire_snapshots; rollback cannot reach past the expiry "
                "watermark"
            )

        pending = load_deletes(state_dir)
        vis_n = _visible_tombstones(recs, snapshot)
        if (
            snapshot == latest
            and not restore
            and not retire
            and {d["id"] for d in pending} == {t["id"] for t in vis_n}
        ):
            return {
                "rolled_back_to": snapshot,
                "files_restored": 0,
                "files_retired": 0,
                "tombstones_readded": 0,
                "tombstones_dropped": 0,
                "snapshot": latest,
            }

        # --- stage restores FIRST, as COPIES into the journal's adopt
        # dir: a staging failure raises with metadata genuinely untouched
        # (a dead .purge dir is the only residue — vacuum_state fodder);
        # the tombstone metadata below is written only once every byte it
        # depends on is staged
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()

        def _p(p: str):
            return jvm.org.apache.hadoop.fs.Path(p)

        fs = _p(bd).getFileSystem(conf)
        tmp = bd + ".purge"
        if fs.exists(_p(tmp)):
            fs.delete(_p(tmp), True)
        fs.mkdirs(_p(tmp))
        for b in restore:
            ok = jvm.org.apache.hadoop.fs.FileUtil.copy(
                fs, _p(os.path.join(rd, b)), fs, _p(tmp + "/" + b),
                False, conf,
            )
            if not ok:
                fs.delete(_p(tmp), True)
                raise RuntimeError(
                    f"failed to stage retired file {b} for rollback; "
                    "state dir untouched"
                )

        # --- re-add the target's visible tombstones under fresh ids with
        # their ORIGINAL sequence numbers (explicit ``seq`` — decode AND
        # purge scoping honor it); key sets are copied (the source may be
        # live OR retired — both stay untouched for older snapshots). A
        # crash between this record and the journal leaves decode
        # consistent (re-applying a tombstone is idempotent) and a
        # re-run rollback clears these re-adds like any pending tombstone.
        items = list(pending)
        readds: list[dict] = []
        for t in vis_n:
            nid = _next_tombstone_id(state_dir, items)
            nd: dict = {"id": nid, "seq": t["_rec"], "ts": time.time()}
            if t.get("kind") == "keys":
                src_kdir = _resolve_keys_path(state_dir, t)
                rel = os.path.join("delete_keys", str(nid))
                dst_kdir = os.path.join(state_dir, rel)
                shutil.rmtree(dst_kdir, ignore_errors=True)
                shutil.copytree(src_kdir, dst_kdir)
                nd.update(kind="keys", cols=list(t["cols"]), path=rel)
            else:
                nd["where"] = t["where"]
            items.append(nd)
            readds.append(nd)
        _write_deletes(state_dir, items)
        if readds:
            _record_snapshot(
                state_dir,
                "delete",
                [],
                tombstones=[
                    {k: v for k, v in d.items() if k != "ts"} for d in readds
                ],
            )

        journal = {
            "remove": retire,
            "adopt": restore,
            "tombstones": [d["id"] for d in pending],
        }
        jp = _purge_journal_path(state_dir)
        with open(jp + ".tmp", "w") as f:
            json.dump(journal, f, indent=1)
        os.replace(jp + ".tmp", jp)
        _replay_purge_journal(spark, state_dir)
        return {
            "rolled_back_to": snapshot,
            "files_restored": len(restore),
            "files_retired": len(retire),
            "tombstones_readded": len(readds),
            # dropped = recorded after the target (not merely re-keyed)
            "tombstones_dropped": len(
                [
                    d
                    for d in pending
                    if d["id"] not in {t["id"] for t in vis_n}
                ]
            ),
            "snapshot": load_snapshots(state_dir)[-1]["id"],
        }
    finally:
        hb.release()


def vacuum_state(spark: SparkSession, state_dir: str) -> dict:
    """Reclaim orphaned writer debris from a state dir — the VACUUM of
    the block format. Removes only artifacts NO reader or writer can
    reach:

    - a ``blocks.purge`` staging dir with no pending commit journal (a
      rewrite that crashed BEFORE its journal write — the journal is the
      commit point, so unjournaled ``.purge`` staging is dead);
    - a ``blocks.repair`` staging dir — UNLESS the blocks dir itself is
      missing/empty: repair_duplicate_blocks commits by delete-then-
      rename, so a crash in that window leaves ``.repair`` holding the
      only copy; vacuum then COMPLETES the rename instead of deleting
      (reported as ``repairs_completed``);
    - ``blocks/_temporary`` (a crashed append's task outputs — the
      single-writer model makes stale committer state always dead);
    - ``*.tmp`` metadata files (torn atomic-replace temporaries);
    - ``delete_keys/<id>`` dirs referenced by neither ``deletes.json``
      nor any snapshot record (a crash between the key-set write and
      the tombstone record orphans the parquet dir).

    Live blocks, retired files (time travel — reclaim those with
    :func:`expire_snapshots`), pending key sets and recorded history are
    never touched. Runs under the writer lease and replays any pending
    commit journal FIRST, so a journaled ``.purge`` dir is applied, not
    deleted. Returns per-category counts and bytes reclaimed."""
    import shutil

    from d6tstack_spark.plans.checkpoint import (
        _LeaseHeartbeat,
        _acquire_lease,
        _blocks_dir,
        _purge_journal_path,
        _replay_purge_journal,
        load_deletes,
        load_snapshots,
    )

    def _du(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for fn in files:
                try:
                    total += os.path.getsize(os.path.join(root, fn))
                except OSError:
                    pass
        return total

    lease = _acquire_lease(state_dir)
    hb = _LeaseHeartbeat(lease)
    try:
        _replay_purge_journal(spark, state_dir)
        bd = _blocks_dir(state_dir)
        report = {
            "staging_dirs_removed": 0,
            "repairs_completed": 0,
            "temporary_removed": 0,
            "tmp_files_removed": 0,
            "orphan_keysets_removed": 0,
            "bytes_reclaimed": 0,
        }
        if os.path.exists(_purge_journal_path(state_dir)):
            # replay is the contract; a journal surviving it means the
            # roll-forward failed — deleting .purge now would destroy
            # files the journal still plans to adopt
            raise RuntimeError(
                f"state dir {state_dir} still has a purge commit journal "
                "after replay; resolve the failed rewrite before vacuuming"
            )
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()

        def _p(p: str):
            return jvm.org.apache.hadoop.fs.Path(p)

        fs = _p(bd).getFileSystem(conf)
        stage = bd + ".purge"
        if os.path.isdir(stage):
            report["bytes_reclaimed"] += _du(stage)
            fs.delete(_p(stage), True)
            report["staging_dirs_removed"] += 1
        repair = bd + ".repair"
        if os.path.isdir(repair):
            if os.path.isdir(bd):
                # blocks dir EXISTS (even legally empty — a fully-purged
                # table keeps its dir): the repair's delete-then-rename
                # commit never started, so .repair is stale staging.
                # Rolling it forward here would resurrect pre-purge rows.
                report["bytes_reclaimed"] += _du(repair)
                fs.delete(_p(repair), True)
                report["staging_dirs_removed"] += 1
            else:
                # blocks dir GONE entirely = the exact crash window of
                # repair_duplicate_blocks (fs.delete(bd) removes the dir
                # itself; rename recreates it): .repair holds the only
                # copy — roll the repair forward. The rename's boolean
                # return is checked: a False here means .repair (the only
                # copy of the blocks) was NOT adopted, and reporting a
                # completed repair would mask a table left headless.
                if not fs.rename(_p(repair), _p(bd)):
                    raise RuntimeError(
                        f"vacuum_state: adopting {repair} as the blocks dir"
                        " failed (fs.rename returned false) — the repair"
                        " staging dir still holds the only copy of the"
                        " blocks; re-run vacuum_state after clearing"
                        " whatever blocks the rename (permissions or a"
                        " concurrent writer recreating the dir)."
                    )
                report["repairs_completed"] += 1
        tmpdir = os.path.join(bd, "_temporary")
        if os.path.isdir(tmpdir):
            from d6tstack_spark.plans.checkpoint import (
                _clean_stale_temporary,
            )

            report["bytes_reclaimed"] += _du(tmpdir)
            _clean_stale_temporary(spark, state_dir)  # Hadoop FS API
            report["temporary_removed"] += 1
        for name in sorted(os.listdir(state_dir)):
            p = os.path.join(state_dir, name)
            if name.endswith(".tmp") and os.path.isfile(p):
                try:
                    report["bytes_reclaimed"] += os.path.getsize(p)
                    os.unlink(p)
                    report["tmp_files_removed"] += 1
                except OSError:
                    pass
        # orphan key sets: referenced = pending tombstones + every keys
        # tombstone any snapshot record ever defined (their live rel path
        # keeps serving snapshot reads until a purge retires it)
        referenced = {
            d.get("path") for d in load_deletes(state_dir)
        }
        for r in load_snapshots(state_dir):
            for t in r.get("tombstones", []) or []:
                if isinstance(t, dict) and t.get("path"):
                    referenced.add(t["path"])
        kroot = os.path.join(state_dir, "delete_keys")
        if os.path.isdir(kroot):
            for name in sorted(os.listdir(kroot)):
                rel = os.path.join("delete_keys", name)
                p = os.path.join(kroot, name)
                if rel not in referenced and os.path.isdir(p):
                    report["bytes_reclaimed"] += _du(p)
                    shutil.rmtree(p, ignore_errors=True)
                    report["orphan_keysets_removed"] += 1
        return report
    finally:
        hb.release()


def clone_state(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    snapshot: int | None = None,
) -> dict:
    """CLONE a state dir at a snapshot into a fresh, independent state
    dir — the Delta/Iceberg ``CLONE`` verb: dev/test copies of a
    production table, or materializing a historical version as its own
    table. Block files are immutable, so the clone is plain byte-copies
    of exactly the files the snapshot resolves (live or retired), plus a
    FAITHFUL LOG PROJECTION: the source's records up to the snapshot
    replay into the clone's ``snapshots.jsonl`` in original order —
    appends keep their file generations, rewrite survivors append at
    their rewrite's position, and tombstones still visible at the
    snapshot re-record at their original sequence point — so
    sequence-scoped deletes in the clone bind to exactly the files they
    bound to in the source. Pending key sets copy in under their
    original ids (the clone's log defines those ids, so there is no
    reuse hazard). Bloom/NDV sidecars copy too: their rows key on
    basenames, extra rows for files outside the clone are inert, and
    both treat coverage as advisory.

    The clone shares NO mutable state with the source: future writes,
    purges, snapshots and expiries on either side are invisible to the
    other. Decoding the clone equals ``decode_state(src,
    snapshot=N)``."""
    import shutil

    from d6tstack_spark.plans.checkpoint import (
        _blocks_dir,
        _deletes_path,
        _files_path,
        _first_seen_ids,
        _format_path,
        _lineage_dir,
        _manifest_path,
        _purge_journal_path,
        _purge_seq_path,
        _resolve_block_paths,
        _resolve_keys_path,
        _rewritten_dir,
        _snapshots_path,
        _visible_tombstones,
        _write_deletes,
        load_snapshots,
        resolve_snapshot,
    )

    from d6tstack_spark.plans.checkpoint import (
        _LeaseHeartbeat,
        _acquire_lease,
        load_deletes,
    )

    from d6tstack_spark.plans.checkpoint import _manifest_path

    # validate BEFORE taking the lease: _acquire_lease mkdirs its dir,
    # and a mistyped source path should raise without side effects
    if not os.path.exists(_manifest_path(src_dir)):
        raise ValueError(
            f"{src_dir} is not an encoded state dir (no manifest.json)"
        )
    # the SOURCE writer lease: a concurrent purge/rollback would move
    # blocks live->retired under the copy loop and tear the clone
    lease = _acquire_lease(src_dir)
    hb = _LeaseHeartbeat(lease)
    try:
        if os.path.exists(_purge_journal_path(src_dir)):
            raise RuntimeError(
                f"source state dir {src_dir} has an in-flight purge commit "
                "journal; run plans.maintenance.purge_deletes() first"
            )
        recs = load_snapshots(src_dir)
        if not recs:
            raise ValueError(
                f"{src_dir} has no snapshot log — clone_state needs one "
                "(dirs written by builds with snapshot support)"
            )
        if os.path.exists(dst_dir) and os.listdir(dst_dir):
            raise ValueError(f"destination {dst_dir} exists and is not empty")
        if snapshot is None:
            snapshot = recs[-1]["id"]
        recorded = {
            t["id"]
            for r in recs
            if r["op"] == "delete"
            for t in r.get("tombstones", [])
        }
        unscoped = [
            d for d in load_deletes(src_dir) if d["id"] not in recorded
        ]
        if unscoped:
            # same refusal as decode_state(snapshot=): these tombstones'
            # creation time is unknown, so the projected log cannot place
            # them — cloning would silently resurrect their deleted rows
            raise ValueError(
                f"source {src_dir} has pending tombstone(s) "
                f"{[d['id'] for d in unscoped]} with no snapshot record; "
                "run plans.maintenance.purge_deletes() first"
            )
        target = resolve_snapshot(src_dir, snapshot)  # validates id + expiry
        srcs = _resolve_block_paths(src_dir, target)  # live or retired
        first_seen = _first_seen_ids(recs, snapshot)
        vis = _visible_tombstones(recs, snapshot)
        vis_ids = {t["id"] for t in vis}

        os.makedirs(os.path.join(dst_dir, "blocks"), exist_ok=True)
        for meta in (
            _manifest_path, _format_path, _files_path, _purge_seq_path,
        ):
            if os.path.exists(meta(src_dir)):
                shutil.copyfile(meta(src_dir), meta(dst_dir))
        for d in (_lineage_dir(src_dir), _rewritten_dir(src_dir)):
            if os.path.isdir(d):
                shutil.copytree(
                    d, os.path.join(dst_dir, os.path.basename(d))
                )
        for side in ("bloomidx", "ndvstats"):
            sdir = os.path.join(src_dir, side)
            if os.path.isdir(sdir):
                shutil.copytree(sdir, os.path.join(dst_dir, side))
        n_bytes = 0
        bd_dst = _blocks_dir(dst_dir)
        for b, sp in zip(target, srcs):
            dst = os.path.join(bd_dst, b)
            shutil.copyfile(sp, dst)
            n_bytes += os.path.getsize(dst)

        # pending tombstones of the clone = those visible at the snapshot,
        # under their ORIGINAL ids (the projected log defines them); key
        # sets copy to their original relative path
        pend = []
        for t in vis:
            d = {k: v for k, v in t.items() if k not in ("_rec", "seq")}
            d["ts"] = time.time()
            if t.get("kind") == "keys":
                kdst = os.path.join(dst_dir, t["path"])
                os.makedirs(os.path.dirname(kdst), exist_ok=True)
                shutil.copytree(_resolve_keys_path(src_dir, t), kdst)
            pend.append(d)
        _write_deletes(dst_dir, pend)

        # log projection: events ordered by their EFFECTIVE source position
        # — appends at each file's first-seen record, visible tombstones at
        # their sequence number (a rollback-re-added tombstone's explicit
        # ``seq``, else its delete record's id), then renumber sequentially.
        # Order alone carries the scoping, so the explicit seq field drops:
        # in the projected log each tombstone's own record id IS its seq.
        tgt = set(target)
        gen_files: dict[int, list[str]] = {}
        for f in tgt:
            gen_files.setdefault(first_seen[f], []).append(f)
        events: list[tuple[int, int, dict]] = []  # (src_pos, tiebreak, rec)
        for sid, files in gen_files.items():
            events.append((sid, 0, {"op": "append", "files": sorted(files)}))
        for t in vis:
            d = {k: v for k, v in t.items() if k not in ("_rec", "seq")}
            events.append(
                (t["_rec"], 1, {"op": "delete", "files": [],
                                "tombstones": [d]})
            )
        events.sort(key=lambda e: (e[0], e[1]))
        with open(_snapshots_path(dst_dir), "w") as f:
            for i, (_, _, r) in enumerate(events, start=1):
                f.write(json.dumps({"id": i, **r}) + "\n")
        return {
            "cloned_from": src_dir,
            "snapshot": int(snapshot),
            "files": len(target),
            "bytes": n_bytes,
            "tombstones_pending": len(pend),
            "records": len(events),
        }

    finally:
        hb.release()
