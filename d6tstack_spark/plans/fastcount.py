"""Metadata-only and pruned counting over encoded state dirs.

``SELECT COUNT(*) FROM t WHERE ...`` is the single most common query a
100 TB pipeline runs (progress tracking, partition sizing, data-quality
gates), and a naive implementation decodes every payload byte to throw
it away. The block format already records everything needed to answer
most counts from metadata alone: per-(block, column) ``n_rows`` /
``null_count`` and the zone-map min/max stats. This module is the
Iceberg/Snowflake "metadata-only scan" analog for the block format:

- ``count(*)`` with no predicate and no pending tombstones is a pure
  stats aggregation — O(metadata), zero payload I/O.
- With a predicate, blocks are classified three ways, inside the
  decode task that owns their file (one Spark job in all):
    * **no-match** — the existing may-match zone DNF prunes them (no
      block can contain a matching row), or the Bloom index rules out
      their whole file: contribute 0;
    * **all-match** — the DNF of the predicate's NEGATION, taken from
      the same Catalyst compile (``compile_where``'s ``not_dnf``),
      proves NO row can fail the predicate: contribute their stats row
      count, payload untouched;
    * **undecided** — decoded (their referenced columns only) and
      counted under the exact row filter, the only payload actually
      read.
  The all-match proof must respect SQL three-valued logic: a row where
  the predicate evaluates NULL matches neither the predicate nor its
  negation, and a translated atom (column vs literal) evaluates NULL
  only on a NULL column — so the negation is widened with ``<col> IS
  NULL`` branches for every referenced column. Any untranslatable
  construct the negation cannot drop poisons it ([]), which simply
  disables the proof and falls back to exact decoding — sound by
  construction.

Reference analog: d6tstack answers "how many rows will this combine
produce" by counting during the scan (combine_csv.py preview/row
counts); this answers it without the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from d6tstack_spark.plans.explain import resolve_read_state


_TALLY = ("meta_rows", "nblocks", "kept", "undec")


def _fused_count(
    spark: SparkSession,
    paths: list[str],
    manifest: dict,
    cw,
    bloom,
) -> dict:
    """The whole count in one Spark job. Its decode tasks
    (:func:`~d6tstack_spark.operators.encode.map_files`, one wave) run
    the per-file classifier every read runs
    (:func:`~d6tstack_spark.operators.encode._classify_file`) and sort
    every block three ways: pruned (it fails the zone may-DNF, or the
    Bloom plan rules the file out), all-match (the negation ``not_dnf``
    cannot hold in it) or undecided.
    Only the undecided blocks' referenced columns are decoded; beside
    those rows the task emits one tally row per non-empty file
    (all-match rows, ``nblocks``, ``kept``, ``undec``). With no
    predicate (``cw`` None) every block is all-match. A file written
    before zone maps keeps every block, undecided.

    The sums are observed on a no-op write — an aggregate with an
    exchange would run as two jobs under AQE — as ``CASE WHEN <tally>
    THEN <all-match rows> WHEN <where> THEN 1 ELSE 0 END`` (CASE takes
    its branches lazily, so ``<where>`` never sees a tally row) plus the
    tally columns' sums."""
    from pyspark.sql import Observation, types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from d6tstack_spark.operators.encode import (
        _classify_file,
        _decode_projection,
        _listed_file,
        _logical_struct,
        _make_decoder,
        _read_blocks,
        _strip_evolved_unprunable,
        _zone_keep_ids_file,
        _zone_task_dnf,
        map_files,
    )

    may_zf = neg_zf = None
    dec_manifest: dict = {}  # the referenced columns (all, for none)
    if cw is not None:
        may_zf = _zone_task_dnf(
            manifest, _strip_evolved_unprunable(cw.dnf or None, manifest)
        )
        neg_zf = _zone_task_dnf(
            manifest, _strip_evolved_unprunable(cw.not_dnf or None, manifest)
        )
        dec_manifest = _decode_projection(manifest, cw.columns or None)[0]
    decoder = _make_decoder(dec_manifest)
    schema = T.StructType(
        _logical_struct(dec_manifest).fields
        + [T.StructField(f"__fc_{k}", T.LongType()) for k in _TALLY]
    )
    names = schema.names
    null_types = [f.type for f in to_arrow_schema(schema)][: len(dec_manifest)]

    def run(p):
        import pyarrow as pa

        with _listed_file(p):
            c = _classify_file(p, may_zf, bloom, tally=True)
            if not c.rows:
                return  # empty part file: no blocks to classify
            rows = c.rows
            may = set(rows) if c.kept is None else c.kept
            undec = set()
            if cw is not None and may:
                neg = None
                if neg_zf is not None:
                    neg = _zone_keep_ids_file(c.stats, neg_zf)
                undec = may if neg is None else may & neg
            blocks = None
            if undec:
                blocks = _read_blocks(p, list(dec_manifest), undec)
        tally = [sum(rows[k] for k in may - undec), len(rows),
                 len(may), len(undec)]
        yield pa.RecordBatch.from_arrays(
            [pa.nulls(1, ty) for ty in null_types]
            + [pa.array([v], pa.int64()) for v in tally],
            names=names,
        )
        if blocks is None:
            return
        for db in decoder(blocks.to_batches()):
            yield pa.RecordBatch.from_arrays(
                db.columns + [pa.nulls(db.num_rows, pa.int64())] * len(_TALLY),
                names=names,
            )

    df = map_files(spark, paths, run, schema)
    where = "TRUE" if cw is None else f"({cw.where})"
    obs = Observation()
    # SQL strings, not Column calls: each pyspark function call costs
    # about ten py4j round trips, the strings one each
    df.selectExpr(
        "*",
        "CASE WHEN __fc_nblocks IS NOT NULL THEN __fc_meta_rows "
        f"WHEN {where} THEN 1 ELSE 0 END AS __fc_n",
    ).observe(
        obs,
        F.expr(
            "named_struct("
            "'count', sum(__fc_n), "
            "'blocks_total', sum(__fc_nblocks), "
            "'blocks_kept', sum(__fc_kept), "
            "'blocks_decoded', sum(__fc_undec), "
            "'files_pruned', count_if(__fc_kept = 0), "
            "'files_metadata_only', "
            "count_if(__fc_kept > 0 AND __fc_undec = 0), "
            "'files_decoded', count_if(__fc_undec > 0)) AS fc"
        ),
    ).write.format("noop").mode("overwrite").save()
    return {k: int(v or 0) for k, v in obs.get["fc"].asDict().items()}


def fast_count(
    spark: SparkSession,
    state_dir: str,
    where: str | None = None,
    snapshot: int | None = None,
) -> dict:
    """Exact row count of ``decode_state(spark, state_dir, where=...,
    snapshot=...)`` touching as little payload as the stats allow.
    Returns::

        {
          "count":               exact count (always equals the decode),
          "mode":                "metadata" | "hybrid" | "fallback",
          "files_total":         resolved blocks files,
          "files_pruned":        proven to contain no matching row (zone
                                 maps or the Bloom index),
          "files_metadata_only": proven all-match, counted from stats,
          "files_decoded":       undecided, decoded + exactly filtered,
          "blocks_kept":         blocks surviving may-match pruning,
          "blocks_decoded":      undecided blocks actually decoded —
                                 classification is block-granular, so a
                                 single-file state dir still reads only
                                 the blocks the proof cannot settle,
        }

    The count is ONE Spark job (:func:`_fused_count`): the decode tasks
    classify, decode the undecided blocks and tally, one wave of at most
    ``defaultParallelism`` tasks. Pending tombstones force
    ``mode="fallback"`` (the count is still exact — it routes through
    :func:`decode_state`'s merge-on-read); purge them and the metadata
    path returns."""
    from d6tstack_spark.plans.checkpoint import (
        _resolve_block_paths,
        decode_state,
    )

    manifest, basenames, vis, _seen = resolve_read_state(
        spark, state_dir, snapshot
    )
    report = {
        "files_total": len(basenames),
        "files_pruned": 0,
        "files_metadata_only": 0,
        "files_decoded": 0,
        "blocks_total": 0,
        "blocks_kept": 0,
        "blocks_decoded": 0,
    }
    if not basenames:
        return {"count": 0, "mode": "metadata", **report}
    if vis:
        # visible tombstones: generation-scoped anti-joins / keep-filters
        # are decode_state's job; stats predate the deletes so metadata
        # counting would overcount
        dec = decode_state(spark, state_dir, where=where, snapshot=snapshot)
        report["files_decoded"] = len(basenames)
        return {"count": dec.count(), "mode": "fallback", **report}

    paths = _resolve_block_paths(state_dir, basenames)
    cw = bloom = None
    if where is not None:
        from d6tstack_spark.operators.encode import compile_where
        from d6tstack_spark.plans.bloomidx import bloom_plan

        cw = compile_where(spark, where, manifest)
        bloom = bloom_plan(state_dir, manifest, cw)
    got = _fused_count(spark, paths, manifest, cw, bloom)
    if where is None:
        report["files_metadata_only"] = len(basenames)
        return {"count": got["count"], "mode": "metadata", **report}
    for k in report:
        report[k] = got.get(k, report[k])
    mode = "hybrid" if got["files_decoded"] else "metadata"
    return {"count": got["count"], "mode": mode, **report}


def fast_profile(spark: SparkSession, state_dir: str) -> DataFrame:
    """Per-column data-quality profile — rows, nulls, non-nulls, blocks —
    from the stats rows alone: a full-table quality gate that reads zero
    payload bytes. ``n_rows`` is the TABLE row count for every column
    (evolved columns have no stats rows in pre-evolution blocks, but
    decode surfaces those rows as null — the profile reports what a
    decode would see, so nulls include the evolution backfill). Refuses
    pending tombstones (stats predate deletes; purge first) rather than
    silently overcounting. The table row count comes from one census job
    (:func:`~d6tstack_spark.operators.encode.file_census`); the per-column
    sums are one aggregate over the stats columns, read under their
    known schema."""
    from d6tstack_spark.plans.checkpoint import _resolve_block_paths

    _manifest, basenames, vis, _seen = resolve_read_state(
        spark, state_dir, None
    )
    if vis:
        raise RuntimeError(
            f"state dir {state_dir} has pending delete tombstones; the "
            "stats predate them, so a metadata profile would overcount — "
            "run plans.maintenance.purge_deletes() first"
        )
    paths = _resolve_block_paths(state_dir, basenames)
    if not paths:
        return spark.createDataFrame(
            [],
            "column string, n_rows long, null_count long, "
            "non_null long, n_blocks long",
        )
    from d6tstack_spark.operators.encode import file_census

    total = sum(c.rows for c in file_census(spark, paths))
    return (
        spark.read.schema("column string, n_rows long, null_count long")
        .parquet(*paths)
        .groupBy("column")
        .agg(
            F.expr(f"CAST({total} AS BIGINT) AS n_rows"),
            F.expr(f"{total} - sum(n_rows - null_count) AS null_count"),
            F.expr("sum(n_rows - null_count) AS non_null"),
            F.expr("count(1) AS n_blocks"),
        )
    )


def preview_state(
    spark: SparkSession, state_dir: str, n: int = 100
) -> DataFrame:
    """Head preview of an encoded table touching as few files as
    possible — the reference's preview contract (head scans before a
    combine, combine_csv.py preview mode) at block-format scale: on a
    100 TB dir this decodes ONE file, not the table. Files are tried in
    listing order until ``n`` rows accumulate (empty part files from
    empty commit partitions are skipped by construction); pending
    tombstones or an empty dir fall back to the exact decode path."""
    from d6tstack_spark.operators.encode import decode_parquet_blocks
    from d6tstack_spark.plans.checkpoint import (
        _blocks_dir,
        _resolve_block_paths,
        decode_state,
    )

    manifest, basenames, vis, _seen = resolve_read_state(
        spark, state_dir, None
    )
    if vis or not basenames:
        return decode_state(spark, state_dir).limit(n)
    paths = _resolve_block_paths(state_dir, basenames)
    # accumulate per-file counts driver-side (each file decodes ONCE),
    # then build the final union over only the files actually needed —
    # re-counting the growing union per file would decode the first file
    # k times over k iterations (quadratic in files scanned)
    take: list[str] = []
    have = 0
    for p in paths:
        have += decode_parquet_blocks(
            spark, _blocks_dir(state_dir), manifest, paths=[p]
        ).limit(n).count()
        take.append(p)
        if have >= n:
            break
    return decode_parquet_blocks(
        spark, _blocks_dir(state_dir), manifest, paths=take
    ).limit(n)


def fast_min_max(
    spark: SparkSession, state_dir: str, col: str
) -> dict:
    """EXACT min/max of one column, decoding only the blocks that can
    hold the extremes. The numeric zone stats are 1-ulp widened — an
    invertible ``nextafter`` step, so each block's true (float-rounded)
    min/max is recovered exactly and float rounding is monotone: the
    blocks tying for the best recovered bound are precisely the
    candidates, usually one per extreme. String stats: the truncated
    ``vmin_str`` prefix is order-monotone so min candidates are the
    prefix-min ties; ``vmax_str`` is truncate-INCREMENT (not monotone
    past the 64-byte cap), so any full-width bound is conservatively a
    max candidate too. Falls back to a full decode aggregation when
    tombstones pend or the stats predate zone maps. Returns
    ``{"min", "max", "mode", "blocks_decoded"}``; SQL semantics (nulls
    skipped; all-null column → both None)."""
    import math

    from d6tstack_spark.operators.encode import decode_parquet_blocks
    from d6tstack_spark.plans.checkpoint import (
        _blocks_dir,
        _resolve_block_paths,
        decode_state,
    )

    manifest, basenames, vis, _seen = resolve_read_state(
        spark, state_dir, None
    )
    if col not in manifest:
        raise ValueError(f"column {col!r} not in manifest")
    if not basenames:
        return {"min": None, "max": None, "mode": "metadata",
                "blocks_decoded": 0}

    def _exact_fallback():
        agg = (
            decode_state(spark, state_dir, columns=[col])
            .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
            .collect()[0]
        )
        return {"min": agg["mn"], "max": agg["mx"], "mode": "fallback",
                "blocks_decoded": -1}

    if vis:
        return _exact_fallback()
    paths = _resolve_block_paths(state_dir, basenames)
    is_str = manifest[col]["ptype"] in ("str", "bin")
    lo_c, hi_c = ("vmin_str", "vmax_str") if is_str else (
        "vmin_num", "vmax_num")
    # known-schema stats read: a file written before zone maps reads null
    # bounds, i.e. stat-less blocks (below: the exact fallback)
    quoted = col.replace("\\", "\\\\").replace("'", "\\'")
    stats = (
        spark.read.schema(
            f"column string, block_id long, n_rows long, null_count long, "
            f"{lo_c} {'binary' if is_str else 'double'}, "
            f"{hi_c} {'binary' if is_str else 'double'}"
        )
        .parquet(*paths)
        .where(f"`column` = '{quoted}'")
        .selectExpr(
            "input_file_name() AS f", "block_id", "n_rows", "null_count",
            lo_c, hi_c,
        )
        .collect()
    )
    base_of = {p.split("/")[-1]: p for p in paths}

    rows = [r for r in stats if r[lo_c] is not None]
    if not rows:
        if any(r["null_count"] < r["n_rows"] for r in stats):
            # non-null values exist but their blocks carry no usable
            # stats (unsupported type / legacy) — cannot plan
            return _exact_fallback()
        return {"min": None, "max": None, "mode": "metadata",
                "blocks_decoded": 0}
    if len(rows) < sum(
        1 for r in stats if r["null_count"] < r["n_rows"]
    ):
        # some non-null blocks are stat-less: they could hide an extreme
        return _exact_fallback()

    if is_str:
        lo_best = min(r[lo_c] for r in rows)
        cand_min = {(r["f"], r["block_id"]) for r in rows if r[lo_c] == lo_best}
        his = [r[hi_c] for r in rows]
        if any(h is None for h in his):
            cand_max = {(r["f"], r["block_id"]) for r in rows}
        else:
            hi_best = max(his)
            cand_max = {
                (r["f"], r["block_id"])
                for r in rows
                # full-width bounds may be truncate-incremented
                # overshoots — conservatively candidates
                if r[hi_c] == hi_best or len(r[hi_c]) >= 64
            }
    else:
        tm = {
            (r["f"], r["block_id"]): (
                math.nextafter(r[lo_c], math.inf),
                math.nextafter(r[hi_c], -math.inf),
            )
            for r in rows
        }
        lo_best = min(v[0] for v in tm.values())
        hi_best = max(v[1] for v in tm.values())
        cand_min = {k for k, v in tm.items() if v[0] == lo_best}
        cand_max = {k for k, v in tm.items() if v[1] == hi_best}

    cand = cand_min | cand_max
    dec_paths = sorted({base_of[f.split("/")[-1]] for f, _ in cand})
    ids = sorted({b for _, b in cand})
    dec = decode_parquet_blocks(
        spark, _blocks_dir(state_dir), manifest, columns=[col],
        paths=dec_paths,
    )
    # block-id restriction happens via the candidate files; the extra
    # blocks a shared file contributes only widen the agg input, never
    # change min/max soundness — but keep it tight when possible
    agg = dec.agg(F.min(col).alias("mn"), F.max(col).alias("mx")).collect()[0]
    return {
        "min": agg["mn"],
        "max": agg["mx"],
        "mode": "hybrid",
        "blocks_decoded": len(ids),
    }
