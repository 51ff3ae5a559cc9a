"""EXPLAIN for state-dir reads: a dry-run of the planning every decode
path does, reported instead of executed.

At 100 TB the difference between a healthy and a pathological read is
*which files the plan keeps*, and that decision happens across three
layers (snapshot resolution → Bloom sidecar → zone-map DNF) plus the
tombstone generations that will be applied merge-on-read. This module
runs exactly those planning steps — the same compilers, and the decode
tasks' own per-file classifier run as one census job over the files'
stats rows, no payload I/O — and returns the counts and the compiled
predicate so a user can see WHY a query reads what it reads (the
`EXPLAIN` / `DESCRIBE DETAIL` of the block format).

Reference analog: d6tstack prints per-file sniff reports before
combining (combine_csv.py preview mode); this is the same
inspect-before-you-run contract for the decode side.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def resolve_read_state(
    spark: SparkSession, state_dir: str, snapshot: int | None = None
) -> tuple[dict, list[str], list[dict], dict]:
    """The read-planning preamble every state-dir consumer performs:
    refuse a mid-swap purge journal, load the manifest, resolve the
    blocks-file set (live listing or snapshot log), and scope the
    visible tombstones. Returns ``(manifest, basenames, visible_tombstones,
    first_seen_ids)`` — exactly the inputs :func:`decode_state` plans
    from, without touching any payload."""
    from d6tstack_spark.operators.encode import _hadoop_list_files
    from d6tstack_spark.plans.checkpoint import (
        _blocks_dir,
        _first_seen_ids,
        _purge_journal_path,
        _visible_tombstones,
        load_deletes,
        load_manifest,
        load_snapshots,
        resolve_snapshot,
    )

    if os.path.exists(_purge_journal_path(state_dir)):
        raise RuntimeError(
            f"state dir {state_dir} has an in-flight purge commit journal; "
            "replay it (any writer entry point) before planning reads"
        )
    manifest = load_manifest(state_dir)
    deletes = load_deletes(state_dir)
    recs = load_snapshots(state_dir)

    if snapshot is not None:
        recorded = {
            t["id"]
            for r in recs
            if r["op"] == "delete"
            for t in r.get("tombstones", [])
        }
        unscoped = [d for d in deletes if d["id"] not in recorded]
        if unscoped:
            # decode_state(snapshot=) refuses these; the planners must
            # refuse identically or fast_count/explain would answer for
            # a read the decode rejects
            raise ValueError(
                f"state dir {state_dir} has pending tombstone(s) "
                f"{[d['id'] for d in unscoped]} with no snapshot record; "
                "run plans.maintenance.purge_deletes() first or plan live"
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
        from d6tstack_spark.plans.checkpoint import _live_visibility

        vis, seen = _live_visibility(recs, deletes)
    return manifest, basenames, vis, seen


def explain_decode(
    spark: SparkSession,
    state_dir: str,
    where: str | None = None,
    columns: list[str] | None = None,
    snapshot: int | None = None,
) -> dict:
    """Plan (but do not run) ``decode_state(spark, state_dir, where=...,
    columns=..., snapshot=...)``. Returns::

        {
          "files_total":        files the read starts from (snapshot- or
                                live-resolved),
          "files_after_bloom":  after Bloom point-lookup pruning,
          "files_after_zone":   files with at least one qualifying block
                                — the files whose payload the decode
                                reads (the decode tasks visit every file,
                                and skip the others after the Bloom probe
                                or the zone check),
          "zone_dnf":           the compiled OR-of-ANDs, or None when the
                                predicate is unprunable,
          "bloom_columns":      indexed columns consulted (None = no
                                sidecar),
          "tombstones_visible": pending tombstones the read will apply,
          "tombstone_generations": distinct applicable-tombstone file
                                groups (each decodes separately),
          "est_rows_scanned":   sum of n_rows over the qualifying blocks
                                of the kept files (what the tasks will
                                actually decode, before the exact row
                                filter),
          "columns_decoded":    projection incl. predicate/tombstone
                                columns decoded-then-dropped,
        }

    Planning only, in one Spark job: the Bloom and zone layers and the
    row estimate come from one census of the files
    (:func:`~d6tstack_spark.operators.encode.file_census`), each file
    classified by the function its decode task runs, so the numbers are
    exact for the plan, not estimates of the result (the exact row
    filter still runs on decode)."""
    from d6tstack_spark.operators.encode import (
        _strip_evolved_unprunable,
        _zone_task_dnf,
        compile_where,
        file_census,
    )
    from d6tstack_spark.plans.bloomidx import bloom_plan, load_bloom_meta
    from d6tstack_spark.plans.checkpoint import (
        _compile_generations,
        _decode_columns,
        _resolve_block_paths,
        _tombstone_generations,
    )

    manifest, basenames, vis, seen = resolve_read_state(
        spark, state_dir, snapshot
    )
    report: dict = {
        "files_total": len(basenames),
        "tombstones_visible": len(vis),
    }

    # tombstone generations: same grouping the scoped decode performs
    gens = _tombstone_generations(basenames, vis, seen)
    report["tombstone_generations"] = len(gens)

    # one compile serves both pruning layers and the projection
    cw = compile_where(spark, where, manifest) if where is not None else None
    meta = load_bloom_meta(state_dir)
    report["bloom_columns"] = meta["columns"] if meta else None
    dnf = bloom = None
    if cw is not None:
        dnf = _strip_evolved_unprunable(cw.dnf or None, manifest)
        bloom = bloom_plan(state_dir, manifest, cw)
    report["zone_dnf"] = dnf

    # the Bloom probe and the zone DNF, evaluated per file by the decode
    # tasks' own classifier in one census job
    census = file_census(
        spark,
        _resolve_block_paths(state_dir, basenames),
        _zone_task_dnf(manifest, dnf or None),
        bloom,
    )
    kept = [c for c in census if c.bloom]
    report["files_after_bloom"] = len(kept)
    report["files_after_zone"] = (
        sum(c.kept_blocks > 0 for c in kept) if dnf else len(kept)
    )
    report["est_rows_scanned"] = sum(c.kept_rows for c in kept)

    # projection incl. decode-then-drop columns (predicate + tombstones)
    compiled = _compile_generations(spark, manifest, cw, vis, gens)
    need = _decode_columns(manifest, columns, compiled.values(), vis)
    report["columns_decoded"] = list(manifest) if need is None else need
    return report
