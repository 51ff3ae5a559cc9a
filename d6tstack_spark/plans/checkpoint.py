"""Checkpoint/resume for encode jobs + per-partition lineage.

Generalizes the reference's skip-if-exists idempotent converts
(convert_xls.py:238-245: ``if fname_out exists and if_exists=='skip' →
skip``) and its pluggable logger (utils.py:7-12) into Spark-native state:

- state lives IN the output itself: the blocks parquet under
  ``<state_dir>/blocks`` (block_id is deterministic) plus a lineage table
  under ``<state_dir>/lineage`` (one row per completed block: rows, bytes,
  per-column codecs, run duration);
- resume is a driver-side set difference (SURVEY.md §2.3
  "checkpoint/resume join"): one known-schema census of the blocks dir
  (``block_id, column`` grouped by ``block_id``) yields the completed base
  ids and detects duplicate publications in the same pass; the planned
  splits minus those ids (and minus the purge-rewritten bases) are the
  todo list — only missing splits re-encode;
- writes are append-mode commit batches over a ``map_slices`` source (no
  exchange): one task per core, or more once a file would exceed
  ``_MAX_SPLITS_PER_FILE`` splits; every task encodes a contiguous slice
  of splits and writes one file of whole blocks.
  Block ids are deterministic (file_idx<<32 | row_group), so a crashed run
  resumes without duplicates and a retried task overwrites nothing.
"""

from __future__ import annotations

import json
import math
import os
import socket
import threading
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from d6tstack_spark.operators.encode import (
    BLOCKS_SCHEMA,
    _SPLIT_DDL,
    _make_scan_encoder,
    _union_input_manifest,
    build_shared_fsst_tables,
    map_slices,
    plan_parquet_splits,
)


def _blocks_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "blocks")


def _lineage_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "lineage")


def _manifest_path(state_dir: str) -> str:
    return os.path.join(state_dir, "manifest.json")


def _files_path(state_dir: str) -> str:
    return os.path.join(state_dir, "files.json")


# block-id scheme stamped into every state dir. "subblock8" = ids carry
# SUB_BLOCK_BITS low bits for oversized-block sub-indices (base id =
# id >> SUB_BLOCK_BITS). A dir written under a different scheme CANNOT be
# resumed by this code: the resume join would mis-derive base ids, skip
# nothing, and append every split a second time under new ids — which
# decode_state would then return twice and repair_duplicate_blocks could
# not heal (the ids differ).
ID_SCHEME = "subblock8"


# ---------------------------------------------------------------- writer lease
#
# The checkpoint model is SINGLE-writer: two drivers appending to one state
# dir interleave commit batches and publish overlapping block sets that the
# resume anti-join cannot untangle. The lease makes that operator error fail
# fast instead of corrupting 100 TB of state. Heartbeat = the lease file's
# mtime, touched by a daemon thread; takeover needs the holder to be
# provably gone (dead pid on this host, or heartbeat older than the TTL).
# This is a best-effort guard for POSIX-like filesystems — on object stores
# (S3) there is no atomic create-exclusive, so production deployments there
# should hold the lock in the catalog/coordination service instead.

LEASE_TTL_SEC = 120.0


def _lease_path(state_dir: str) -> str:
    return os.path.join(state_dir, "writer.lock")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else


# A stale lease is never unlinked directly: two contenders can both judge
# it dead, the first unlinks + re-creates, and the second then unlinks the
# first's FRESH lock — two live "single writers". Breaking instead claims
# an O_EXCL break marker (one winner), re-verifies the lease is STILL the
# exact stale file it judged (content unchanged AND mtime still past TTL —
# a live holder's heartbeat moves mtime; a release+reacquire changes
# content), and only then unlinks. The marker itself ages out fast in case
# a breaker dies mid-break.
_BREAK_TTL_SEC = 10.0


def _acquire_lease(state_dir: str) -> str:
    os.makedirs(state_dir, exist_ok=True)
    lp = _lease_path(state_dir)
    bp = lp + ".break"
    me = {"pid": os.getpid(), "host": socket.gethostname(),
          "acquired": time.time()}
    payload = json.dumps(me)
    deadline = time.time() + 30.0
    while time.time() < deadline:
        try:
            fd = os.open(lp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                f.write(payload)
            return lp
        except FileExistsError:
            pass
        try:
            with open(lp) as f:
                raw = f.read()
            cur = json.loads(raw)
            age = time.time() - os.path.getmtime(lp)
        except (OSError, ValueError):
            time.sleep(0.05)  # holder vanished or mid-write — retry
            continue
        dead = (
            cur.get("host") == me["host"]
            and isinstance(cur.get("pid"), int)
            and not _pid_alive(cur["pid"])
        )
        if not (dead or age > LEASE_TTL_SEC):
            raise RuntimeError(
                f"state dir {state_dir} is locked by an active writer "
                f"(pid {cur.get('pid')} on {cur.get('host')}, heartbeat "
                f"{age:.0f}s ago, TTL {LEASE_TTL_SEC:.0f}s). Concurrent "
                "writers corrupt the blocks table; wait for it to finish, "
                f"or delete {lp} if you are certain it is dead."
            )
        try:  # claim the exclusive right to break the stale lease
            os.close(os.open(bp, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
        except FileExistsError:
            try:  # another contender mid-break; age out a dead breaker
                if time.time() - os.path.getmtime(bp) > _BREAK_TTL_SEC:
                    os.unlink(bp)
            except OSError:
                pass
            time.sleep(0.05)
            continue
        try:
            with open(lp) as f:
                raw2 = f.read()
            still_stale = raw2 == raw and (
                dead or time.time() - os.path.getmtime(lp) > LEASE_TTL_SEC
            )
            if still_stale:
                os.unlink(lp)
        except OSError:
            pass  # lease vanished or was swapped — just retry
        finally:
            try:
                os.unlink(bp)
            except FileNotFoundError:
                pass
    raise RuntimeError(f"could not acquire writer lease in {state_dir}")


class _LeaseHeartbeat:
    """Touch the lease file's mtime every ``interval`` seconds so a live
    writer's lease never looks stale, however long its Spark jobs block
    the driver thread. Each touch re-reads the file and verifies it is
    still OUR lease (a contender that raced the break protocol would have
    swapped in its own): on a swap the thread stops touching, flags
    ``lost``, and ``release()`` refuses to unlink the other writer's
    lock. Callers holding the lease across long jobs can call ``check()``
    at commit points to fail fast instead of publishing as a zombie."""

    def __init__(self, path: str, interval: float = 15.0):
        self._path = path
        self.lost = False
        try:
            with open(path) as f:
                self._expect = f.read()
        except OSError:
            self._expect = None
        self._stop = threading.Event()
        self._t = threading.Thread(
            target=self._run, args=(interval,), daemon=True
        )
        self._t.start()

    def _owned(self) -> bool:
        if self._expect is None:
            return True  # unverifiable — keep legacy behavior
        try:
            with open(self._path) as f:
                return f.read() == self._expect
        except OSError:
            return False  # gone: released, or broken out from under us

    def _run(self, interval: float) -> None:
        while not self._stop.wait(interval):
            if not self._owned():
                self.lost = True
                return
            try:
                os.utime(self._path)
            except OSError:
                return  # lease gone (released or broken) — stop quietly

    def check(self) -> None:
        """Raise if the lease was lost (stolen by a racing contender)."""
        if self.lost or not self._owned():
            self.lost = True
            raise RuntimeError(
                f"writer lease {self._path} was lost (broken by another "
                "contender) — aborting before publishing more state"
            )

    def release(self) -> None:
        self._stop.set()
        if self.lost or not self._owned():
            return  # not ours anymore — never unlink another writer's lock
        try:
            os.unlink(self._path)
        except FileNotFoundError:
            pass


def _deletes_path(state_dir: str) -> str:
    return os.path.join(state_dir, "deletes.json")


def _purge_journal_path(state_dir: str) -> str:
    return os.path.join(state_dir, "purge_commit.json")


def _rewritten_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "rewritten")


def _purge_seq_path(state_dir: str) -> str:
    return os.path.join(state_dir, "purge_seq.json")


def _snapshots_path(state_dir: str) -> str:
    return os.path.join(state_dir, "snapshots.jsonl")


def load_snapshots(state_dir: str) -> list[dict]:
    """The snapshot log: one record per committed writer operation that
    changed the visible blocks-file set. ``{"id", "op": "append",
    "files": [added basenames]}`` or ``{"id", "op": "rewrite", "files":
    [FULL listing after the rewrite]}``. A torn trailing line (crash
    mid-append) is ignored — the next writer re-sweeps any published
    file the log missed."""
    sp = _snapshots_path(state_dir)
    if not os.path.exists(sp):
        return []
    out: list[dict] = []
    with open(sp) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            try:
                out.append(json.loads(line))
            except ValueError:
                break  # torn tail — everything before it is intact
    return out


def _record_snapshot(
    state_dir: str,
    op: str,
    files: list[str],
    tombstones: list | None = None,
) -> int:
    """Append one snapshot record (caller holds the writer lease).
    Returns the new snapshot id. ``files`` are BASENAMES relative to the
    blocks dir. ``tombstones`` scopes deletes to snapshots: a ``delete``
    record carries the tombstone definitions it ADDED (predicate text, or
    key-set column list + relative path); a ``rewrite`` record carries the
    tombstone IDS it physically applied and cleared — a tombstone is
    visible at snapshot N iff its delete record is ≤ N and no rewrite ≤ N
    lists its id."""
    recs = load_snapshots(state_dir)
    sid = (recs[-1]["id"] + 1) if recs else 1
    rec: dict = {"id": sid, "op": op, "files": sorted(files)}
    if tombstones is not None:
        rec["tombstones"] = tombstones
    sp = _snapshots_path(state_dir)
    with open(sp, "a") as f:
        f.write(json.dumps(rec) + "\n")
        f.flush()
        os.fsync(f.fileno())
    return sid


def _visible_tombstones(recs: list[dict], snapshot: int) -> list[dict]:
    """Tombstone definitions visible at ``snapshot``: added by a delete
    record ≤ snapshot and not yet cleared by a rewrite ≤ snapshot. Each
    returned dict carries ``_rec`` = the tombstone's SEQUENCE NUMBER: it
    applies only to files first seen before that record (rows appended
    after a delete are never deleted by it, Iceberg's sequence-number
    scoping). Normally the delete record's own id; a tombstone re-added
    by :func:`~d6tstack_spark.plans.maintenance.rollback_to_snapshot`
    carries an explicit ``seq`` preserving its ORIGINAL scope.

    Event-sourced walk (records are in id order): a rewrite clears only
    tombstones DEFINED BY EARLIER RECORDS, so a tombstone id that is
    reused after a purge (ids restart from deletes.json's max) is not
    masked by the earlier rewrite that cleared its previous owner."""
    live: dict[int, dict] = {}
    for r in recs:
        if r["id"] > snapshot:
            break
        if r["op"] == "delete":
            for t in r.get("tombstones", []):
                live[t["id"]] = {**t, "_rec": t.get("seq", r["id"])}
        elif r["op"] == "rewrite":
            for i in r.get("tombstones", []):
                live.pop(i, None)
    return list(live.values())


def _next_tombstone_id(state_dir: str, items: list[dict]) -> int:
    """Globally-unique next tombstone id: above every pending id AND
    every id the snapshot log has ever recorded (delete definitions and
    rewrite clears). Reusing a cleared id would (a) let the earlier
    rewrite's clear mask the new tombstone in snapshot-log walks of old
    readers and (b) collide the keys tombstone's ``retired/keys/<id>``
    slot, destroying the previous owner's historical key set."""
    hi = max((d["id"] for d in items), default=0)
    for r in load_snapshots(state_dir):
        for t in r.get("tombstones", []) or []:
            hi = max(hi, t["id"] if isinstance(t, dict) else int(t))
    return hi + 1


def _live_visibility(
    recs: list[dict], deletes: list[dict]
) -> tuple[list[dict], dict[str, int]]:
    """Visible tombstones + first-seen map for a LIVE read — the one
    shared resolution both :func:`decode_state` and
    ``plans.explain.resolve_read_state`` plan from. Unscoped pending
    tombstones (no snapshot record: legacy dirs, or a crash between
    deletes.json and the log) apply globally (``_rec=None`` — their
    creation time is unknown) UNLESS the item itself carries a ``seq``
    field (only rollback_to_snapshot writes one, preserving the
    re-added tombstone's original scope — honored even before its
    snapshot record lands); scoped ones keep their sequence scope
    from the log. Mixing the two must NOT globalize the scoped ones:
    rows legally appended after a scoped delete stay exempt even while
    an unscoped tombstone pends."""
    if not deletes:
        return [], {}
    recorded = {
        t["id"]
        for r in recs
        if r["op"] == "delete"
        for t in r.get("tombstones", [])
    }
    unscoped_ids = {d["id"] for d in deletes if d["id"] not in recorded}
    # an unrecorded pending tombstone that carries an explicit ``seq``
    # was written by rollback_to_snapshot in the crash window between
    # deletes.json and its snapshot record: its original scope is known
    # and MUST be honored — applying it globally would silently
    # over-delete rows in post-target files until the rollback re-runs
    vis: list[dict] = [
        {**d, "_rec": d.get("seq")} for d in deletes if d["id"] in unscoped_ids
    ]
    seen: dict[str, int] = {}
    scoped = {d["id"] for d in deletes} - unscoped_ids
    need_seen = bool(scoped) or any(v["_rec"] is not None for v in vis)
    if recs and need_seen:
        latest = recs[-1]["id"]
        if scoped:
            vis += [
                t
                for t in _visible_tombstones(recs, latest)
                if t["id"] in scoped
            ]
        seen = _first_seen_ids(recs, latest)
    return vis, seen


def _first_seen_ids(recs: list[dict], upto: int) -> dict[str, int]:
    """Basename → snapshot id of the record that first listed it (its
    add sequence). Files a rewrite re-lists keep their original add id;
    that is sound because every rewrite either clears all pending
    tombstones (purge) or refuses to run with any pending
    (cluster/compact), so no visible tombstone predates a surviving
    rewrite listing."""
    seen: dict[str, int] = {}
    for r in recs:
        if r["id"] > upto:
            break
        for b in r.get("files", []):
            seen.setdefault(b, r["id"])
    return seen


def _retired_blocks_dir(state_dir: str) -> str:
    return os.path.join(state_dir, "retired", "blocks")


def _retired_keys_dir(state_dir: str, tomb_id: int) -> str:
    return os.path.join(state_dir, "retired", "keys", str(tomb_id))


def _expire_path(state_dir: str) -> str:
    return os.path.join(state_dir, "expire.json")


def _expired_before(state_dir: str) -> int:
    try:
        with open(_expire_path(state_dir)) as f:
            return int(json.load(f)["expired_before"])
    except (OSError, ValueError, KeyError):
        return 0


def _resolve_block_paths(state_dir: str, basenames: list[str]) -> list[str]:
    """Absolute paths for snapshot-resolved block files: live blocks dir
    first, then the retired dir (files a rewrite replaced are MOVED there,
    not deleted, so time travel reaches across rewrites until
    :func:`~d6tstack_spark.plans.maintenance.expire_snapshots` reclaims
    them)."""
    bd = _blocks_dir(state_dir)
    rd = _retired_blocks_dir(state_dir)
    out: list[str] = []
    missing: list[str] = []
    for b in basenames:
        live = os.path.join(bd, b)
        retired = os.path.join(rd, b)
        if os.path.exists(live):
            out.append(live)
        elif os.path.exists(retired):
            out.append(retired)
        else:
            missing.append(b)
    if missing:
        raise ValueError(
            f"snapshot resolves to {len(missing)} file(s) present neither "
            f"live nor retired (first: {missing[0]}) — expired by "
            "expire_snapshots, or the snapshot log raced a rewrite"
        )
    return out


def _resolve_keys_path(state_dir: str, t: dict) -> str:
    """Key-set parquet dir for a keys tombstone: live location while it
    pends, retired location after a purge cleared it."""
    live = os.path.join(state_dir, t["path"])
    if os.path.isdir(live):
        return live
    retired = _retired_keys_dir(state_dir, t["id"])
    if os.path.isdir(retired):
        return retired
    raise ValueError(
        f"key set for tombstone {t['id']} not found (live {t['path']!r} "
        "or retired) — expired by expire_snapshots?"
    )


def _snapshot_known_files(recs: list[dict]) -> set[str]:
    known: set[str] = set()
    for r in recs:
        if r["op"] == "rewrite":
            known = set(r["files"])
        else:
            known |= set(r["files"])
    return known


def resolve_snapshot(state_dir: str, snapshot: int) -> list[str]:
    """Blocks-file BASENAMES visible at ``snapshot``. Physical rewrites
    (purge/cluster/compaction) RETIRE the files they replace instead of
    deleting them, so time travel reaches across rewrites — an old
    snapshot stays readable until
    :func:`~d6tstack_spark.plans.maintenance.expire_snapshots` reclaims
    its retired files (the Iceberg snapshot-retention model)."""
    recs = load_snapshots(state_dir)
    if not recs:
        raise ValueError(
            f"state dir {state_dir} has no snapshot log (written by "
            "builds with snapshot support, from the first writer op on)"
        )
    ids = [r["id"] for r in recs]
    if snapshot not in ids:
        raise ValueError(
            f"unknown snapshot {snapshot}; log has ids {ids[0]}..{ids[-1]}"
        )
    exp = _expired_before(state_dir)
    if snapshot < exp:
        raise ValueError(
            f"snapshot {snapshot} was expired (expire_snapshots reclaimed "
            f"everything before snapshot {exp}); earliest readable is {exp}"
        )
    files: set[str] = set()
    for r in recs:
        if r["id"] > snapshot:
            break
        if r["op"] == "rewrite":
            files = set(r["files"])
        else:
            files |= set(r["files"])
    return sorted(files)


def resolve_snapshot_diff(
    state_dir: str, since: int, until: int | None = None
) -> list[str]:
    """Blocks-file BASENAMES added strictly AFTER snapshot ``since`` up
    to and including ``until`` (default: the latest snapshot) — the
    incremental-consumption primitive: appends are immutable files, so
    "what's new since I last read" is exactly the union of the append
    records in the window. A rewrite record inside the window is refused:
    a rewrite changes EXISTING rows (delete/re-sort), which a file-add
    diff cannot represent — re-read the full table at the new snapshot."""
    recs = load_snapshots(state_dir)
    if not recs:
        raise ValueError(f"state dir {state_dir} has no snapshot log")
    ids = [r["id"] for r in recs]
    if until is None:
        until = ids[-1]
    for sid, label in ((since, "since"), (until, "until")):
        if sid not in ids and not (label == "since" and sid == 0):
            raise ValueError(
                f"unknown {label} snapshot {sid}; log has ids "
                f"{ids[0]}..{ids[-1]}"
            )
    if until < since:
        raise ValueError(f"until={until} precedes since={since}")
    window = [r for r in recs if since < r["id"] <= until]
    rewrites = [r["id"] for r in window if r["op"] == "rewrite"]
    if rewrites:
        raise ValueError(
            f"snapshot window ({since}, {until}] contains the physical "
            f"rewrite committed as snapshot {rewrites[0]} — a rewrite "
            "mutates existing rows, which an incremental file-add diff "
            "cannot represent; re-read the full table at snapshot "
            f"{until} instead"
        )
    files: set[str] = set()
    for r in window:
        files |= set(r["files"])
    return sorted(files)


def decode_state_diff(
    spark: SparkSession,
    state_dir: str,
    since: int,
    until: int | None = None,
    columns: list[str] | None = None,
    where: str | None = None,
    changelog: bool = False,
) -> DataFrame:
    """Incremental consumption over an encoded state dir (the Iceberg
    incremental/changelog-scan idea; the reference's skip-if-exists
    convert loop is the same contract at file granularity,
    convert_xls.py:238-245).

    Default (``changelog=False``): decode ONLY the rows appended after
    snapshot ``since`` (up to ``until``, default latest) — rides the
    shuffle-free bulk path on exactly the added files; ``since=0`` reads
    everything from the log's start. Pending tombstones are refused and
    windows containing a physical rewrite are refused (a rewrite mutates
    existing rows, which a file-add diff cannot represent).

    ``changelog=True`` crosses rewrites: returns the NET row changes
    between the two snapshots with a ``_change`` column (``insert`` /
    ``delete``), the Iceberg changelog scan. Cost scales with CHURN, not
    table size: only the files that differ between the snapshots — plus
    the zone-qualifying files of any tombstone whose visibility changed
    in the window — are decoded, and rows a rewrite merely moved cancel
    in the multiset difference (``exceptAll``)."""
    from d6tstack_spark.operators.encode import (
        _logical_struct,
        decode_parquet_blocks,
        decode_where,
    )

    if os.path.exists(_purge_journal_path(state_dir)):
        raise RuntimeError(
            f"state dir {state_dir} has an in-flight purge commit journal; "
            "run plans.maintenance.purge_deletes() first"
        )
    manifest = load_manifest(state_dir)
    if changelog:
        return _changelog_diff(
            spark, state_dir, manifest, since, until, columns, where
        )
    if load_deletes(state_dir):
        raise ValueError(
            f"state dir {state_dir} has pending delete tombstones; "
            "incremental reads are defined on purged state only — run "
            "plans.maintenance.purge_deletes() first, or use "
            "changelog=True (snapshot-scoped)"
        )
    added = resolve_snapshot_diff(state_dir, since, until)
    if not added:
        empty = spark.createDataFrame([], _logical_struct(manifest))
        if where is not None:
            empty = empty.filter(F.expr(where))
        if columns is not None:
            missing = [c for c in columns if c not in manifest]
            if missing:
                raise ValueError(f"columns not in manifest: {missing}")
            empty = empty.select(*columns)
        return empty
    # appended files may have been RETIRED by a rewrite after the window
    paths = _resolve_block_paths(state_dir, added)
    if where is not None:
        return decode_where(
            spark, _blocks_dir(state_dir), manifest, where,
            columns=columns, paths=paths,
        )
    return decode_parquet_blocks(
        spark, _blocks_dir(state_dir), manifest, columns=columns,
        paths=paths,
    )


def _tombstone_zone_dnf(
    spark: SparkSession, state_dir: str, manifest: dict, tombs: list[dict]
):
    """``(dnf, cw)`` for the rows any of ``tombs`` can delete: ``cw`` is
    the compiled OR of the predicate tombstones (None without any), and
    ``dnf`` its zone DNF plus one per-column [min, max] envelope branch
    per key set — None when some part is unprunable. Schema evolution:
    pre-evolution blocks have no stats row for an evolved column, so a
    stats scan would silently exclude them — yet an IS NULL tombstone on
    that column MATCHES their (all-null) rows; like the decode paths,
    is_null atoms on evolved columns are dropped, and a branch left
    empty makes the DNF None (a full rewrite, never a missed file)."""
    from d6tstack_spark.operators.encode import (
        _strip_evolved_unprunable,
        compile_where,
    )

    preds = [t for t in tombs if t.get("kind") != "keys"]
    cw, dnf = None, []
    if preds:
        cw = compile_where(
            spark, " OR ".join(f"({t['where']})" for t in preds), manifest
        )
        dnf = _strip_evolved_unprunable(cw.dnf or None, manifest)
    for t in tombs:
        if dnf is not None and t.get("kind") == "keys":
            env = key_envelope_filter(
                spark, _resolve_keys_path(state_dir, t), tuple(t["cols"])
            )
            dnf = None if env is None else dnf + env
    return dnf, cw


def _tombstone_affected_basenames(
    spark: SparkSession,
    state_dir: str,
    manifest: dict,
    tombs: list[dict],
    basenames: list[str],
) -> list[str]:
    """Zone targeting for the changelog scan: the subset of ``basenames``
    whose stats say some row COULD match one of ``tombs`` (exactly the
    purge planner's rules, :func:`_tombstone_zone_dnf`, run by the census
    job); unprunable → all of them (conservative)."""
    from d6tstack_spark.operators.encode import _zone_task_dnf, file_census

    if not tombs or not basenames:
        return []
    dnf, _ = _tombstone_zone_dnf(spark, state_dir, manifest, tombs)
    if not dnf:
        return list(basenames)
    census = file_census(
        spark,
        _resolve_block_paths(state_dir, basenames),
        _zone_task_dnf(manifest, dnf),
        tally=False,
    )
    return [b for b, c in zip(basenames, census) if c.kept_blocks != 0]


def _changelog_diff(
    spark: SparkSession,
    state_dir: str,
    manifest: dict,
    since: int,
    until: int | None,
    columns: list[str] | None,
    where: str | None,
) -> DataFrame:
    from d6tstack_spark.operators.encode import (
        _logical_struct,
        decode_parquet_blocks,
    )

    recs = load_snapshots(state_dir)
    if not recs:
        raise ValueError(f"state dir {state_dir} has no snapshot log")
    ids = [r["id"] for r in recs]
    if until is None:
        until = ids[-1]
    if until < since:
        raise ValueError(f"until={until} precedes since={since}")
    # legacy guard: pending tombstones with no delete record cannot be
    # snapshot-scoped (see decode_state)
    recorded_ids = {
        t["id"]
        for r in recs
        if r["op"] == "delete"
        for t in r.get("tombstones", [])
    }
    unscoped = [
        d for d in load_deletes(state_dir) if d["id"] not in recorded_ids
    ]
    if unscoped:
        raise ValueError(
            f"state dir {state_dir} has pending tombstone(s) "
            f"{[d['id'] for d in unscoped]} with no snapshot record; run "
            "plans.maintenance.purge_deletes() first"
        )
    f_since = set(resolve_snapshot(state_dir, since)) if since > 0 else set()
    f_until = set(resolve_snapshot(state_dir, until))
    vis_s = _visible_tombstones(recs, since) if since > 0 else []
    vis_u = _visible_tombstones(recs, until)
    sk = {t["id"] for t in vis_s}
    uk = {t["id"] for t in vis_u}
    changed_tombs = [t for t in vis_s + vis_u if (t["id"] in sk) ^ (t["id"] in uk)]
    common = sorted(f_since & f_until)
    extra = _tombstone_affected_basenames(
        spark, state_dir, manifest, changed_tombs, common
    )

    def _side(basenames: set, vis: list[dict], at: int) -> DataFrame:
        files = sorted(basenames)
        if not files:
            return spark.createDataFrame([], _logical_struct(manifest))
        # sequence-scoped like decode_state: a tombstone applies only to
        # files first seen before its delete record
        return _decode_scoped(
            spark, state_dir, manifest, files, vis,
            _first_seen_ids(recs, at),
        )

    left = _side((f_since - f_until) | set(extra), vis_s, since)
    right = _side((f_until - f_since) | set(extra), vis_u, until)
    out = (
        right.exceptAll(left).withColumn("_change", F.lit("insert"))
        .unionByName(
            left.exceptAll(right).withColumn("_change", F.lit("delete"))
        )
    )
    if where is not None:
        out = out.filter(F.expr(where))
    if columns is not None:
        missing = [c for c in columns if c not in manifest]
        if missing:
            raise ValueError(f"columns not in manifest: {missing}")
        out = out.select(*columns, "_change")
    return out


def load_deletes(state_dir: str) -> list[dict]:
    """Pending delete tombstones. Predicate kind: ``{"id", "where",
    "ts"}``; equality kind: ``{"id", "kind": "keys", "cols", "path",
    "ts"}`` (``path`` = key-set parquet dir, relative to the state
    dir)."""
    dp = _deletes_path(state_dir)
    if not os.path.exists(dp):
        return []
    with open(dp) as f:
        return json.load(f)


def _write_deletes(state_dir: str, items: list[dict]) -> None:
    dp = _deletes_path(state_dir)
    if not items:
        try:
            os.unlink(dp)
        except FileNotFoundError:
            pass
        return
    tmp = dp + ".tmp"
    with open(tmp, "w") as f:
        json.dump(items, f, indent=1)
    os.replace(tmp, dp)


def _clear_tombstones(state_dir: str, ids: list[int]) -> None:
    import shutil

    done = set(ids)
    keep, dropped = [], []
    for d in load_deletes(state_dir):
        (dropped if d["id"] in done else keep).append(d)
    _write_deletes(state_dir, keep)
    for d in dropped:  # a keys tombstone owns a key-set parquet dir —
        # RETIRE it (snapshot reads older than the purge still anti-join
        # against it); expire_snapshots reclaims retired key sets
        if d.get("kind") == "keys":
            src = os.path.join(state_dir, d["path"])
            dst = _retired_keys_dir(state_dir, d["id"])
            if os.path.isdir(src) and not os.path.isdir(dst):
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                try:
                    os.rename(src, dst)
                    continue
                except OSError:
                    pass
            shutil.rmtree(src, ignore_errors=True)


def _tombstone_keep_expr(deletes: list[dict]) -> str | None:
    """SQL keep-filter for pending tombstones, with DELETE null semantics:
    a row is deleted only where the predicate is TRUE — a NULL predicate
    keeps the row (``coalesce(p, false)``), exactly like SQL ``DELETE
    WHERE p``. Plain ``NOT p`` would silently drop p-IS-NULL rows."""
    if not deletes:
        return None
    return " AND ".join(
        f"NOT coalesce(({d['where']}), false)" for d in deletes
    )


def _replay_purge_journal(spark: SparkSession, state_dir: str) -> bool:
    """Finish (or finish rolling forward) a purge commit that crashed
    mid-apply. The journal is written only AFTER the replacement blocks
    are fully written and row-parity-verified, so replay always rolls
    FORWARD: adopt any replacement files still sitting in the sibling
    ``.purge`` dir, drop the listed original files, clear the covered
    tombstones. Idempotent — every step checks existence first. Callers
    must hold the state-dir writer lease."""
    jp = _purge_journal_path(state_dir)
    if not os.path.exists(jp):
        return False
    with open(jp) as f:
        j = json.load(f)
    bd = _blocks_dir(state_dir)
    tmp = bd + ".purge"
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def _p(p: str):
        return jvm.org.apache.hadoop.fs.Path(p)

    fs = _p(bd).getFileSystem(conf)
    for b in j.get("adopt", []):
        src, dst = _p(tmp + "/" + b), _p(bd + "/" + b)
        if fs.exists(src) and not fs.exists(dst):
            fs.rename(src, dst)
    rd = _retired_blocks_dir(state_dir)
    fs.mkdirs(_p(rd))
    for b in j.get("remove", []):
        dst = _p(bd + "/" + b)
        if fs.exists(dst):
            # retire, not delete (snapshot retention); fall back to
            # delete when a prior crashed replay already moved this name
            if not fs.rename(dst, _p(rd + "/" + b)):
                fs.delete(dst, False)
    if fs.exists(_p(tmp)):
        fs.delete(_p(tmp), True)
    os.unlink(jp)
    _clear_tombstones(state_dir, j.get("tombstones", []))
    if os.path.exists(_snapshots_path(state_dir)):
        # the crashed rewrite never recorded its snapshot barrier — do it
        # now that the file moves are complete
        from d6tstack_spark.operators.encode import _hadoop_list_files

        _record_snapshot(
            state_dir,
            "rewrite",
            [
                os.path.basename(p)
                for p in _hadoop_list_files(spark, bd, ".parquet")
            ],
            tombstones=list(j.get("tombstones", [])),
        )
    return True


def delete_where(
    spark: SparkSession,
    state_dir: str,
    where: str,
    count_matches: bool = True,
) -> dict:
    """Record a predicate tombstone against an encoded state dir — the
    logical half of ``DELETE FROM state WHERE <where>`` (SQL semantics:
    only rows where the predicate is TRUE are deleted; NULL keeps).

    O(metadata): no block is rewritten — :func:`decode_state` applies
    pending tombstones as an exact row filter (merge-on-read, the
    equality-delete idea of Iceberg v2, which ``sources/table_io.py``
    reads on the ingest side). ``count_matches`` also reports how many
    not-yet-deleted rows the predicate hits (a zone-map-pruned decode of
    candidate blocks only); a predicate matching nothing is NOT recorded.

    Physical reclamation is :func:`~d6tstack_spark.plans.maintenance.
    purge_deletes`, which rewrites only the files the zone maps say can
    contain matches. Until tombstones are purged, ``encode_resume``
    refuses NEW appends — predicate tombstones are table-level at decode
    and would otherwise also delete matching rows appended AFTER the
    delete (the re-insert hazard Iceberg scopes with sequence numbers)."""
    lease = _acquire_lease(state_dir)
    hb = _LeaseHeartbeat(lease)
    try:
        _replay_purge_journal(spark, state_dir)
        if not os.path.exists(_manifest_path(state_dir)):
            raise ValueError(
                f"{state_dir} is not an encoded state dir (no manifest.json)"
            )
        # sequence soundness: any published-but-unrecorded files must get
        # their add record BEFORE this delete's record, or the rows they
        # already hold would escape the tombstone's scope
        _sweep_snapshot_appends(spark, state_dir)
        manifest = load_manifest(state_dir)
        from d6tstack_spark.operators.encode import _logical_struct

        # eager predicate validation: Spark analyzes filter() immediately
        # against the decoded (logical) schema — typos and unknown columns
        # fail here, not at the next decode
        empty = spark.createDataFrame([], _logical_struct(manifest))
        empty.filter(F.expr(where))
        report: dict = {"where": where, "recorded": True}
        if count_matches:
            # scoped live decode = rows not already deleted (each prior
            # tombstone applied to exactly the files it covers); the NEW
            # predicate hits all current rows by definition
            n = decode_state(spark, state_dir, where=where).count()
            report["matched"] = n
            if n == 0:
                report["recorded"] = False
                return report
        items = load_deletes(state_dir)
        nxt = _next_tombstone_id(state_dir, items)
        items.append({"id": nxt, "where": where, "ts": time.time()})
        _write_deletes(state_dir, items)
        report["tombstone_id"] = nxt
        if load_snapshots(state_dir):
            # scope the delete to snapshots: time travel applies exactly
            # the tombstones visible at the target snapshot
            report["snapshot"] = _record_snapshot(
                state_dir, "delete", [],
                tombstones=[{"id": nxt, "where": where}],
            )
        return report
    finally:
        hb.release()


def delete_keys(
    spark: SparkSession,
    state_dir: str,
    keys: DataFrame,
    key_cols: tuple[str, ...] = ("conv_id",),
    count_matches: bool = True,
) -> dict:
    """Record an equality-delete tombstone: every row whose ``key_cols``
    tuple appears in ``keys`` is deleted — the write-side mirror of the
    Iceberg v2 equality-delete files this engine reads in
    ``sources/table_io.py``, over the block format.

    The distinct key set persists as a parquet dir INSIDE the state dir
    (the tombstone record references it), so application is a
    ``left_anti`` join at decode — exact for arbitrarily many keys, where
    an IN-list predicate would not scale past a few thousand. Decode
    pruning still works range-wise: the key set's per-column [min, max]
    envelope compiles to a zone filter, so key sets clustered in the sort
    order only decode the overlapping blocks.

    Same lifecycle as :func:`delete_where`: merge-on-read until
    ``purge_deletes`` physically rewrites the zone-affected files;
    appends are refused while tombstones pend. The natural upsert is
    :func:`~d6tstack_spark.plans.maintenance.upsert_files`."""
    lease = _acquire_lease(state_dir)
    hb = _LeaseHeartbeat(lease)
    try:
        _replay_purge_journal(spark, state_dir)
        if not os.path.exists(_manifest_path(state_dir)):
            raise ValueError(
                f"{state_dir} is not an encoded state dir (no manifest.json)"
            )
        # sequence soundness: see delete_where — published-but-unrecorded
        # files must be swept in before this delete's record
        _sweep_snapshot_appends(spark, state_dir)
        manifest = load_manifest(state_dir)
        missing = [c for c in key_cols if c not in manifest]
        if not key_cols or missing:
            raise ValueError(
                f"key_cols {key_cols} not all in the stored manifest "
                f"(missing: {missing})"
            )
        kdf = keys.select(*key_cols).distinct()
        items = load_deletes(state_dir)
        nxt = _next_tombstone_id(state_dir, items)
        rel = os.path.join("delete_keys", str(nxt))
        kdir = os.path.join(state_dir, rel)
        kdf.write.mode("overwrite").parquet(kdir)
        report: dict = {"key_cols": list(key_cols), "recorded": True}
        report["n_keys"] = spark.read.parquet(kdir).count()
        if report["n_keys"] == 0:
            import shutil

            shutil.rmtree(kdir, ignore_errors=True)
            report["recorded"] = False
            report["matched"] = 0
            return report
        if count_matches:
            # scoped live decode (prior tombstones applied exactly),
            # zone-pruned by the new key set's [min,max] envelope, then
            # the exact semi-join against the keys
            env = key_envelope_filter(spark, kdir, tuple(key_cols))
            hit = decode_state(
                spark, state_dir, block_filter=env or None
            )
            n = hit.join(
                spark.read.parquet(kdir), on=list(key_cols), how="left_semi"
            ).count()
            report["matched"] = n
            if n == 0:
                import shutil

                shutil.rmtree(kdir, ignore_errors=True)
                report["recorded"] = False
                return report
        items.append(
            {
                "id": nxt,
                "kind": "keys",
                "cols": list(key_cols),
                "path": rel,
                "ts": time.time(),
            }
        )
        _write_deletes(state_dir, items)
        report["tombstone_id"] = nxt
        if load_snapshots(state_dir):
            report["snapshot"] = _record_snapshot(
                state_dir, "delete", [],
                tombstones=[{
                    "id": nxt,
                    "kind": "keys",
                    "cols": list(key_cols),
                    "path": rel,
                }],
            )
        return report
    finally:
        hb.release()


def key_envelope_filter(
    spark: SparkSession, kdir: str, key_cols: tuple[str, ...]
) -> list[list[tuple]] | None:
    """Zone-filter DNF for a key set: the conjunction of each key
    column's [min, max] envelope — conservative (a block inside the
    envelope may hold none of the keys; the exact anti/semi join decides)
    but sound, and selective when the keys cluster in the sort order."""
    kdf = spark.read.parquet(kdir)
    aggs = []
    for c in key_cols:
        aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
    row = kdf.agg(*aggs).first()
    branch = []
    for c in key_cols:
        lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
        if lo is None:
            return None  # all-null key column: envelope can't prune
        branch.append((c, lo, hi))
    return [branch]


def _format_path(state_dir: str) -> str:
    return os.path.join(state_dir, "format.json")


def _check_or_stamp_format(state_dir: str, has_blocks: bool) -> None:
    """Enforce the id-scheme contract on resume (see ID_SCHEME).

    Fresh dir → stamp. Stamped dir → verify. Blocks present but no stamp →
    legacy dir from before format versioning: refuse rather than guess,
    because a wrong guess silently duplicates every row at decode."""
    fp = _format_path(state_dir)
    if os.path.exists(fp):
        with open(fp) as f:
            fmt = json.load(f)
        if fmt.get("id_scheme") != ID_SCHEME:
            raise ValueError(
                f"state dir {state_dir} uses block-id scheme "
                f"{fmt.get('id_scheme')!r}, this build writes {ID_SCHEME!r}: "
                "resuming would re-encode every split under differently-"
                "shaped ids and duplicate the table at decode. Re-encode "
                "into a fresh state dir (or decode with the build that "
                "wrote it)."
            )
        return
    if has_blocks:
        raise ValueError(
            f"state dir {state_dir} has blocks but no format.json id-scheme "
            "marker (written by a pre-versioning build): cannot verify its "
            "block-id layout. Re-encode into a fresh state dir, or — after "
            f"verifying the dir was written with the {ID_SCHEME!r} scheme — "
            'stamp it manually: format.json = {"id_scheme": "subblock8"}.'
        )
    os.makedirs(state_dir, exist_ok=True)
    tmp = fp + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"id_scheme": ID_SCHEME, "format_version": 1}, f, indent=1)
    os.replace(tmp, fp)


def _assign_file_indices(state_dir: str, paths: list[str]) -> dict[str, int]:
    """Stable path → file_idx map persisted in the state dir.

    Block ids embed file_idx, so the assignment must survive resume even
    when files are added between runs (a positional index would shift every
    id and make the left_anti resume join skip the wrong blocks). New paths
    extend the map; a previously-recorded path missing from this run fails
    loudly — its blocks are in the state and silently ignoring that would
    desync state from input."""
    fmap: dict[str, int] = {}
    fp = _files_path(state_dir)
    if os.path.exists(fp):
        with open(fp) as f:
            fmap = json.load(f)
    missing = sorted(set(fmap) - set(paths))
    if missing:
        raise ValueError(
            f"state dir {state_dir} was built from files not in this run "
            f"(first: {missing[0]}); pass the full original file list or "
            "use a fresh state dir"
        )
    nxt = max(fmap.values(), default=-1) + 1
    for p in sorted(paths):
        if p not in fmap:
            fmap[p] = nxt
            nxt += 1
    if nxt > (1 << 21):
        # bit budget: stored id = file_idx<<40 | rg<<8 | sub must stay clear
        # of bit 61, which marks purge-rewritten blocks (maintenance.py).
        # 2M files × 2 GB would be 4 PB in one state dir — shard before then.
        raise ValueError(
            f"state dir {state_dir} would exceed 2^21 input files; the "
            "block-id bit budget reserves bit 61 for purge-rewritten blocks. "
            "Shard the input across multiple state dirs."
        )
    tmp = fp + ".tmp"
    os.makedirs(state_dir, exist_ok=True)
    with open(tmp, "w") as f:
        json.dump(fmap, f, indent=1)
    os.replace(tmp, fp)
    return fmap


def _completed_bases(spark: SparkSession, state_dir: str) -> set[int]:
    """Base ids (``block_id >> SUB_BLOCK_BITS``) of every split the state
    dir already holds, from one known-schema census of the blocks dir: a
    ``groupBy("block_id")`` of the column rows, whose row count exceeding
    its distinct-column count marks a duplicate publication (a pre-fix
    crash published a block twice). Duplicates are healed here, before
    anything appends. Purge-rewritten bases count as complete too: their
    surviving rows live on under rewritten ids, and re-encoding the source
    split would resurrect the deleted rows."""
    from d6tstack_spark.operators.encode import SUB_BLOCK_BITS

    bd = _blocks_dir(state_dir)
    done: set[int] = set()
    if os.path.isdir(bd):
        census = (
            spark.read.schema("block_id long, column string")
            .parquet(bd)
            .groupBy("block_id")
            # collect_set, not countDistinct: the distinct-aggregate
            # rewrite would add a second exchange (and job)
            .agg(
                (F.count("*") > F.size(F.collect_set("column"))).alias("dup")
            )
            .collect()
        )
        done = {r[0] >> SUB_BLOCK_BITS for r in census}
        if any(r[1] for r in census):
            # encode is bitwise-deterministic, so the copies are identical
            # and healing leaves the done set as it is
            repair_duplicate_blocks(spark, state_dir)
    rw = _rewritten_dir(state_dir)
    if os.path.isdir(rw):
        done |= {
            r[0] for r in spark.read.schema("block_id long").parquet(rw)
            .collect()
        }
    return done


def _write_lineage(
    spark: SparkSession, state_dir: str, duration: float
) -> None:
    """Rewrite the lineage table from the blocks themselves (no side
    channel to drift out of sync): one row per block with its rows, raw
    and encoded bytes and per-column codecs. The read carries its schema,
    so no inference job scans the blocks dir first."""
    (
        spark.read.schema(
            "block_id long, column string, codec string, n_rows long, "
            "raw_bytes long, enc_bytes long"
        )
        .parquet(_blocks_dir(state_dir))
        .groupBy("block_id")
        .agg(
            F.max("n_rows").alias("rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.map_from_entries(
                F.array_distinct(F.collect_list(F.struct("column", "codec")))
            ).alias("codecs"),
        )
        .withColumn("run_duration_sec", F.lit(round(duration, 3)))
        .write.mode("overwrite")
        .parquet(_lineage_dir(state_dir))
    )


def _clean_stale_temporary(spark: SparkSession, state_dir: str) -> None:
    """Remove a crashed writer's ``_temporary`` dir before this run appends.

    The v1 file committer's job commit publishes EVERYTHING under
    ``_temporary/0`` — including orphaned task outputs of a previous run
    that died mid-commit. Left in place, the next append job would publish
    those orphans alongside this run's re-encode of the same splits,
    duplicating blocks (found by a kill-mid-commit crash drill). The
    checkpoint model is single-writer, so stale ``_temporary`` is always
    safe to drop. Scheme-agnostic via the Hadoop FileSystem API."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(
        os.path.join(_blocks_dir(state_dir), "_temporary")
    )
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def repair_duplicate_blocks(spark: SparkSession, state_dir: str) -> int:
    """Heal a state dir poisoned by a pre-fix crash: if any (block_id,
    column) row appears more than once, rewrite the blocks table keeping
    one copy (encode is bitwise-deterministic, so duplicates are identical
    and either copy is correct). Returns the number of duplicate rows
    removed; 0 means nothing was rewritten."""
    bd = _blocks_dir(state_dir)
    blocks = spark.read.parquet(bd)
    total = blocks.count()
    distinct = blocks.select("block_id", "column").distinct().count()
    if total == distinct:
        return 0
    from d6tstack_spark.operators.sinks import write_blocks

    tmp = bd + ".repair"
    # repartition by block_id after the dedup shuffle: dropDuplicates hash-
    # partitions on (block_id, column), which would scatter one block's
    # column rows across output files and break the per-file complete-block
    # invariant the shuffle-free decode depends on (at small scale AQE
    # coalesces the problem away, at real scale it surfaces as 'incomplete
    # blocks at decode')
    deduped = blocks.dropDuplicates(["block_id", "column"]).repartition(
        "block_id"
    )
    write_blocks(deduped, tmp)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p_old = jvm.org.apache.hadoop.fs.Path(bd)
    p_new = jvm.org.apache.hadoop.fs.Path(tmp)
    fs = p_old.getFileSystem(conf)
    fs.delete(p_old, True)
    fs.rename(p_new, p_old)
    return total - distinct


def encode_resume(
    spark: SparkSession,
    paths: list[str] | str,
    state_dir: str,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    codec_overrides: dict | None = None,
    row_groups_per_split: int = 2,
    checkpoint_every: int | None = None,
) -> dict:
    """Encode parquet files into ``state_dir``, resuming past completed
    blocks. Returns a summary dict (splits planned/skipped/encoded,
    ``already_complete``, and the run duration and snapshot id when
    something was written).

    Call again after a crash/kill: only missing blocks are encoded (the
    planned splits minus the base ids one blocks-dir census finds).

    ``checkpoint_every`` bounds the blast radius of a crash: splits commit
    in independent append jobs of at most that many splits, so a kill
    mid-run loses at most one in-flight batch — the committed batches
    resume as skipped (per-partition checkpointing, not per-job). 0 = one
    job for everything (lowest fixed cost, job-level resume only).
    None (default) scales with the cluster: ``max(256, 32 ×
    defaultParallelism)`` — each commit batch is ~32 waves of work per
    core, so bigger clusters take proportionally bigger (and therefore
    proportionally FEWER) batches and the number of serial job
    submissions stays flat as the input grows with the cluster, while a
    crash still only loses minutes of work. A fixed small value on a
    large cluster would serialize thousands of tiny jobs through the
    driver's commit barrier. Each batch writes one file per core, or per
    ``_MAX_SPLITS_PER_FILE`` splits when that is more."""
    if isinstance(paths, str):
        paths = [paths]
    # single-writer lease guards every state mutation below (files.json,
    # manifest, _temporary cleanup, appends, lineage overwrite)
    lease = _acquire_lease(state_dir)
    hb = _LeaseHeartbeat(lease)
    try:
        return _encode_resume_locked(
            spark, paths, state_dir, order_cols, codec_overrides,
            row_groups_per_split, checkpoint_every, hb=hb,
        )
    finally:
        hb.release()


def _sweep_snapshot_appends(spark: SparkSession, state_dir: str) -> int | None:
    """Record every published-but-unrecorded blocks file as one append
    snapshot (caller holds the writer lease). Self-healing by design: a
    crash between a write_blocks commit and its snapshot record just
    leaves files for the NEXT writer entry to sweep — the log never
    needs to be exactly in step with the dir, only to converge. Returns
    the new snapshot id (None when nothing changed)."""
    from d6tstack_spark.operators.encode import _hadoop_list_files

    listing = {
        os.path.basename(p)
        for p in _hadoop_list_files(spark, _blocks_dir(state_dir), ".parquet")
    }
    known = _snapshot_known_files(load_snapshots(state_dir))
    if known - listing:
        # a known file disappeared: a rewrite (purge/cluster/compact)
        # swapped files but crashed before its own snapshot record. An
        # "append" here would make every later resolve_snapshot fail the
        # existence check forever; a full-listing rewrite barrier is the
        # truthful record and lets the log heal.
        return _record_snapshot(state_dir, "rewrite", sorted(listing))
    added = listing - known
    if not added:
        return None
    return _record_snapshot(state_dir, "append", sorted(added))


def _evolve_manifest(prior: dict, new: dict) -> dict:
    """Schema evolution on append: columns the state dir already has keep
    their stored entry (type drift raises); columns the inputs add are
    appended with ``evolved: true`` — already-written blocks have no data
    for them, and the decoder null-pads exactly those (see
    operators.encode._decode_one_block). Columns the inputs DROPPED stay in
    the manifest; the scan encoder writes explicit all-null blocks for
    them, so no marker is needed in that direction."""
    merged = {k: dict(v) for k, v in prior.items()}
    for k, v in new.items():
        have = merged.get(k)
        if have is None:
            merged[k] = {**v, "evolved": True}
        elif (have["ptype"], have["logical"]) != (v["ptype"], v["logical"]):
            raise ValueError(
                f"schema drift for column {k!r} vs the state dir: stored "
                f"{have['ptype']}/{have['logical']}, input "
                f"{v['ptype']}/{v['logical']} — evolution only ADDS "
                "columns; a retyped column needs a fresh state dir"
            )
    return merged


# Splits one encode task (hence one blocks file) may hold. Measured on one
# 128-split batch (6000-turn splits, local[4], Bloom index on a
# non-clustered key), caps 1/2/4/8/32: point-lookup p50 1.31/0.97/0.70/
# 0.80/1.50 s, purge p50 7.0/7.3/7.5/7.6/14.1 s, full decode 11.1/6.2/2.8/
# 2.7/1.7 s: split-sized files pay per-file overhead on every read, and
# one file per core makes each Bloom-kept or purged file a core's share.
_MAX_SPLITS_PER_FILE = 4


def _encode_resume_locked(
    spark: SparkSession,
    paths: list[str],
    state_dir: str,
    order_cols: tuple[str, ...],
    codec_overrides: dict | None,
    row_groups_per_split: int,
    checkpoint_every: int | None,
    hb: _LeaseHeartbeat | None = None,
) -> dict:
    _replay_purge_journal(spark, state_dir)
    manifest = _union_input_manifest(paths)
    if os.path.exists(_manifest_path(state_dir)):
        manifest = _evolve_manifest(load_manifest(state_dir), manifest)
    fmap = _assign_file_indices(state_dir, paths)
    with open(_manifest_path(state_dir), "w") as f:
        json.dump(manifest, f, indent=1)
    splits = plan_parquet_splits(paths, row_groups_per_split, file_indices=fmap)

    n_cores = spark.sparkContext.defaultParallelism
    if checkpoint_every is None:
        checkpoint_every = max(256, 32 * n_cores)
    _check_or_stamp_format(
        state_dir, has_blocks=os.path.isdir(_blocks_dir(state_dir))
    )
    _clean_stale_temporary(spark, state_dir)
    # the resume plan: planned splits minus completed bases. Stored ids
    # carry SUB_BLOCK_BITS low bits (oversized-block sub-index); a split is
    # complete iff its BASE id appears — sub-blocks of one base block are
    # written by one task, hence atomically together.
    done = _completed_bases(spark, state_dir)
    todo = [s for s in splits if (s[0] << 32 | s[2]) not in done]
    if todo:
        pend = load_deletes(state_dir)
        if pend:
            # appends while tombstones pend are SAFE when every tombstone
            # is snapshot-scoped (its delete record gives it a sequence
            # number): the new files sweep in with a later record, so the
            # decode paths never apply the delete to them (Iceberg
            # sequence semantics). Only tombstones with no record (legacy
            # dirs / pre-scoping crashes) still refuse — their scope is
            # unknowable.
            recorded = {
                t["id"]
                for r in load_snapshots(state_dir)
                if r["op"] == "delete"
                for t in r.get("tombstones", [])
            }
            unscoped = [d for d in pend if d["id"] not in recorded]
            if unscoped:
                raise ValueError(
                    f"state dir {state_dir} has pending delete "
                    f"tombstone(s) {[d['id'] for d in unscoped]} with no "
                    "snapshot record (created before snapshot-scoped "
                    "deletes): appending now would also delete matching "
                    "rows in the NEW appends. Run "
                    "plans.maintenance.purge_deletes() first, then append."
                )

    summary = {
        "planned": len(splits),
        "skipped": len(splits) - len(todo),
        "encoded": len(todo),
        "already_complete": not todo,
    }
    if not todo:
        # still sweep: a crashed prior run may have published files the
        # snapshot log has not recorded yet
        sid = _sweep_snapshot_appends(spark, state_dir)
        if sid is not None:
            summary["snapshot"] = sid
        return summary

    t0 = time.time()
    enc = _make_scan_encoder(
        manifest, codec_overrides, order_cols,
        shared_tables=build_shared_fsst_tables(paths, manifest),
    )
    from d6tstack_spark.operators.sinks import write_blocks

    # one independently-committed append job per batch. write_blocks keeps
    # the state dir on the same sink contract as every other blocks write:
    # uncompressed (payloads are already entropy-coded), parquet dictionary
    # off, and the maxRecordsPerFile guard that protects the per-file
    # complete-block invariant the shuffle-free decode depends on.
    step = checkpoint_every or len(todo)
    for i in range(0, len(todo), step):
        if hb is not None:
            hb.check()  # stop publishing the moment the lease is lost
        batch = todo[i : i + step]
        # each task encodes one contiguous slice and writes one file
        n_tasks = min(
            len(batch),
            max(n_cores, -(-len(batch) // _MAX_SPLITS_PER_FILE)),
        )
        write_blocks(
            map_slices(
                spark, batch, n_tasks, enc, BLOCKS_SCHEMA, _SPLIT_DDL
            ),
            _blocks_dir(state_dir),
            mode="append",
        )
    duration = time.time() - t0
    _write_lineage(spark, state_dir, duration)
    summary["duration_sec"] = round(duration, 3)
    sid = _sweep_snapshot_appends(spark, state_dir)
    if sid is not None:
        summary["snapshot"] = sid
    return summary


def load_manifest(state_dir: str) -> dict:
    with open(_manifest_path(state_dir)) as f:
        return json.load(f)


def save_manifest(manifest: dict, blocks_dir: str) -> str:
    """Persist a codec manifest INSIDE a plain blocks dir (the
    ``write_blocks`` sink path, which has no state dir), making the dir
    self-describing: a later session can decode with nothing but the path.
    The file is named ``_manifest.json`` — the leading underscore makes
    Spark's parquet reader ignore it, and the bulk decoder lists only
    ``*.parquet`` files, so neither path ever sees it as data."""
    path = os.path.join(blocks_dir, "_manifest.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, path)
    return path


def load_blocks_manifest(blocks_dir: str) -> dict:
    """Read the manifest :func:`save_manifest` stored in a blocks dir."""
    with open(os.path.join(blocks_dir, "_manifest.json")) as f:
        return json.load(f)


def decode_state(
    spark: SparkSession,
    state_dir: str,
    columns: list[str] | None = None,
    block_filter: tuple | list | None = None,
    where: str | None = None,
    snapshot: int | None = None,
) -> DataFrame:
    """Decode a state dir back to the original table via the shuffle-free
    per-file bulk path (state files contain complete blocks by construction
    — every write here is one task's whole partition). ``columns`` and
    ``block_filter`` pass through to the zone-map-aware decoder; ``where``
    routes through :func:`~d6tstack_spark.operators.encode.decode_where`
    (SQL predicate → DNF zone pruning + exact row filter) and is mutually
    exclusive with ``block_filter``.

    Pending delete tombstones are applied exactly (merge-on-read):
    predicate keep-filters (:func:`delete_where`) conjoin into the
    ``where`` path — unprunable there, they cost nothing extra — or
    apply on the decoded rows otherwise; equality key sets
    (:func:`delete_keys`) apply as ``left_anti`` joins (the small side
    broadcasts). Columns a tombstone references outside the projection
    are decoded for the filter/join and dropped after. A state dir with
    an in-flight purge commit journal refuses to decode (the blocks
    listing is mid-swap); any writer entry point replays the journal to
    completion.

    ``snapshot=N`` time-travels: the read pins the blocks-file set the
    snapshot log (``snapshots.jsonl``) recorded at writer commit N —
    appends after N are invisible, and the read still rides the
    shuffle-free bulk path. Physical rewrites (purge/cluster/compaction)
    RETIRE the files they replace, so snapshots before a rewrite stay
    readable until :func:`~d6tstack_spark.plans.maintenance.
    expire_snapshots` reclaims them. Tombstones are SEQUENCE-SCOPED
    (Iceberg semantics): a delete applies only to files first seen
    before its delete record, so rows appended after the delete survive
    it — both live reads and snapshot reads group the file set by which
    tombstones apply and decode each generation with exactly its
    deletes. Snapshots decode under the CURRENT schema — columns added
    after N read as all-null for N's rows, exactly as live reads of
    pre-evolution blocks do."""
    from d6tstack_spark.operators.encode import (
        _hadoop_list_files,
        _logical_struct,
        compile_where,
    )

    if os.path.exists(_purge_journal_path(state_dir)):
        raise RuntimeError(
            f"state dir {state_dir} has an in-flight purge commit journal "
            "(a purge_deletes() crashed mid-apply): the blocks listing is "
            "mid-swap and a decode now could double- or under-count rows. "
            "Run plans.maintenance.purge_deletes() to replay the journal, "
            "then decode."
        )
    if where is not None and block_filter is not None:
        raise ValueError(
            "pass either where= (SQL, compiled to zone filters) or "
            "block_filter= (explicit predicates), not both"
        )
    deletes = load_deletes(state_dir)
    manifest = load_manifest(state_dir)
    recs = load_snapshots(state_dir)

    if snapshot is not None:
        recorded_ids = {
            t["id"]
            for r in recs
            if r["op"] == "delete"
            for t in r.get("tombstones", [])
        }
        unscoped = [d for d in deletes if d["id"] not in recorded_ids]
        if unscoped:
            # tombstones recorded before delete records existed (legacy
            # dirs, or a crash between deletes.json and the log): their
            # creation time is unknown — refuse rather than guess
            raise ValueError(
                f"state dir {state_dir} has pending tombstone(s) "
                f"{[d['id'] for d in unscoped]} with no snapshot record "
                "(created before snapshot-scoped deletes); run "
                "plans.maintenance.purge_deletes() first or decode live"
            )
        basenames = resolve_snapshot(state_dir, snapshot)
        vis = _visible_tombstones(recs, snapshot)
        seen = _first_seen_ids(recs, snapshot)
    else:
        basenames = sorted(
            os.path.basename(p)
            for p in _hadoop_list_files(
                spark, _blocks_dir(state_dir), ".parquet"
            )
        )
        vis, seen = _live_visibility(recs, deletes)

    # one compile serves the Bloom plan, the zone DNF and the projection
    cw = compile_where(spark, where, manifest) if where is not None else None
    # advisory point-lookup pruning: if a Bloom sidecar exists
    # (plans.bloomidx.build_bloom_index), equality atoms in the WHERE let
    # each decode task skip a file that provably cannot contain the value
    # — the pruning zone maps cannot do on non-clustered keys. Uncovered
    # files and untranslatable predicates pass; correctness never
    # depends on the index.
    bloom = None
    if cw is not None:
        from d6tstack_spark.plans.bloomidx import bloom_plan

        bloom = bloom_plan(state_dir, manifest, cw)

    if not basenames:
        # empty table version (all blocks deleted+purged, or an empty
        # snapshot) — return the empty logical frame
        m = manifest
        if columns is not None:
            missing = [c for c in columns if c not in manifest]
            if missing:
                raise ValueError(f"columns not in manifest: {missing}")
            m = {c: manifest[c] for c in columns}
        return spark.createDataFrame([], _logical_struct(m))

    return _decode_scoped(
        spark, state_dir, manifest, basenames, vis, seen,
        columns=columns, block_filter=block_filter, where=cw, bloom=bloom,
        # live reads just listed the blocks dir — skip the per-file
        # exists() fallback probe (10^5 stats on big dirs); snapshot
        # reads keep the live-then-retired resolution
        live_basenames=None if snapshot is not None else set(basenames),
    )


def _decode_scoped(
    spark: SparkSession,
    state_dir: str,
    manifest: dict,
    basenames: list[str],
    vis: list[dict],
    seen: dict[str, int],
    columns: list[str] | None = None,
    block_filter: tuple | list | None = None,
    where=None,
    live_basenames: set | None = None,
    bloom=None,
) -> DataFrame:
    """Decode ``basenames`` (resolved live-first-then-retired) applying
    each visible tombstone only to the files it is sequence-scoped to:
    files group by their applicable-tombstone set
    (:func:`_tombstone_generations`), each group decodes with exactly
    its keep-filter and key anti-joins, and the groups union. ``where``
    is the caller's predicate as a ``CompiledWhere`` (or None) and
    ``bloom`` its Bloom plan, which every generation's tasks apply (a
    generation's predicate is ``where`` AND its keep-filter)."""
    from d6tstack_spark.operators.encode import (
        decode_parquet_blocks,
        decode_where,
    )

    bd = _blocks_dir(state_dir)
    tmap = {t["id"]: t for t in vis}
    groups = _tombstone_generations(basenames, vis, seen)
    compiled = _compile_generations(spark, manifest, where, vis, groups)
    need = _decode_columns(manifest, columns, compiled.values(), vis)

    parts: list[DataFrame] = []
    for s, bs in groups.items():
        gksets = [tmap[i] for i in s if tmap[i].get("kind") == "keys"]
        gcw = compiled[s]
        if live_basenames is not None:
            # caller vouches these basenames came from a live listing:
            # join paths directly instead of stat()ing every file
            known = [b for b in bs if b in live_basenames]
            rest = [b for b in bs if b not in live_basenames]
            paths = [os.path.join(bd, b) for b in known]
            if rest:
                paths += _resolve_block_paths(state_dir, rest)
        else:
            paths = _resolve_block_paths(state_dir, bs)
        if gcw is not None and block_filter is None:
            dec = decode_where(
                spark, bd, manifest, gcw, columns=need, paths=paths,
                bloom=bloom,
            )
        else:
            dec = decode_parquet_blocks(
                spark, bd, manifest, columns=need,
                block_filter=block_filter, paths=paths,
            )
            if gcw is not None:  # tombstone keep-filter
                dec = dec.filter(gcw.where)
        for t in gksets:  # equality deletes: exact left_anti on the keys
            dec = dec.join(
                spark.read.parquet(_resolve_keys_path(state_dir, t)),
                on=list(t["cols"]),
                how="left_anti",
            )
        parts.append(dec)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if columns is not None and need != list(columns):
        out = out.select(*columns)  # drop the columns read for the filters
    return out


def _tombstone_generations(
    basenames: list[str], vis: list[dict], seen: dict[str, int]
) -> dict[frozenset, list[str]]:
    """Group files by their applicable-tombstone set — at most
    #tombstones + 1 generations (files between consecutive delete
    records share a group). A file the snapshot log has not recorded
    yet (published by a writer that crashed before its sweep) counts as
    NEWEST — the same id the next sweep will assign it — so no
    tombstone recorded earlier touches it."""
    groups: dict[frozenset, list[str]] = {}
    for b in basenames:
        s = frozenset(
            t["id"]
            for t in vis
            if t.get("_rec") is None or seen.get(b, math.inf) < t["_rec"]
        )
        groups.setdefault(s, []).append(b)
    return groups


def _compile_generations(
    spark: SparkSession, manifest: dict, where, vis: list[dict], groups
) -> dict:
    """Per tombstone generation, the compiled predicate its files decode
    under: the caller's ``where`` (a ``CompiledWhere`` or None) AND the
    generation's predicate-tombstone keep-filter. A generation with no
    predicate tombstone reuses ``where`` as compiled — with no pending
    deletes a read compiles its predicate exactly once."""
    from d6tstack_spark.operators.encode import compile_where

    tmap = {t["id"]: t for t in vis}
    out = {}
    for s in groups:
        keep = _tombstone_keep_expr(
            [tmap[i] for i in s if tmap[i].get("kind") != "keys"]
        )
        if keep is None:
            out[s] = where
        else:
            eff = keep if where is None else f"({where.where}) AND ({keep})"
            out[s] = compile_where(spark, eff, manifest)
    return out


def _decode_columns(
    manifest: dict, columns: list[str] | None, compiled, vis: list[dict]
) -> list[str] | None:
    """Projection a scoped decode reads: ``columns`` plus every column a
    compiled predicate or a key-set tombstone references (decoded for
    the filter / anti-join, dropped after); None = all columns."""
    if columns is None:
        return None
    extra = {c for cw in compiled if cw is not None for c in cw.columns}
    extra |= {c for t in vis if t.get("kind") == "keys" for c in t["cols"]}
    return list(columns) + [
        c for c in manifest if c in extra and c not in columns
    ]
