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
- With a predicate, files are classified three ways:
    * **no-match** — the existing may-match zone DNF prunes them (no
      block can contain a matching row): contribute 0;
    * **all-match** — the DNF of the predicate's NEGATION, taken from
      the same Catalyst compile (``compile_where``'s ``not_dnf``),
      proves NO row can fail the predicate: contribute their stats row
      count, payload untouched;
    * **undecided** — decoded through the zone-pruned bulk decode plus
      the exact row filter, the only payload actually read.
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


def _classify_files(
    spark: SparkSession,
    paths: list[str],
    manifest: dict,
    may_dnf: list[list[tuple]] | None,
    neg_dnf: list[list[tuple]] | None,
) -> list:
    """One ``mapInArrow`` task per blocks file: classify the file's
    blocks as pruned (fail the may-match DNF), undecided (also pass the
    may-fail DNF ``neg_dnf``) or all-match (the rest), and return one
    tally row per non-empty file — ``i`` (index into ``paths``),
    ``nblocks``, ``rows``, ``kept``, ``undec`` and ``meta_rows`` (rows
    of the all-match blocks). A missing DNF keeps every block, and so
    does a file written before zone maps: such blocks stay kept and
    undecided, decoded exactly."""
    from d6tstack_spark.operators.encode import (
        _read_file_stats,
        _zone_keep_ids_file,
        _zone_task_dnf,
        map_slices,
    )

    may_zf = _zone_task_dnf(manifest, may_dnf)
    neg_zf = _zone_task_dnf(manifest, neg_dnf)

    def run(batches):
        import pyarrow as pa

        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
        out = {
            k: [] for k in ("i", "nblocks", "rows", "kept", "undec", "meta_rows")
        }
        for b in batches:
            for i, p in zip(*(b.column(c).to_pylist() for c in ("i", "path"))):
                st = _read_file_stats(p)
                if st.num_rows == 0:
                    continue  # empty part file: no blocks to classify
                g = st.group_by("block_id").aggregate([("n_rows", "max")])
                rows = dict(
                    zip(
                        g.column("block_id").to_pylist(),
                        g.column("n_rows_max").to_pylist(),
                    )
                )

                def keep(zf):  # every block without a DNF or zone stats
                    ids = None if zf is None else _zone_keep_ids_file(st, zf)
                    return set(rows) if ids is None else ids

                may = keep(may_zf)
                undec = may & keep(neg_zf)
                out["i"].append(i)
                out["nblocks"].append(len(rows))
                out["rows"].append(sum(rows.values()))
                out["kept"].append(len(may))
                out["undec"].append(len(undec))
                out["meta_rows"].append(sum(rows[k] for k in may - undec))
        yield pa.RecordBatch.from_pydict(
            out, schema=pa.schema([(k, pa.int64()) for k in out])
        )

    return map_slices(
        spark,
        list(enumerate(paths)),
        len(paths),
        run,
        "i long, nblocks long, rows long, kept long, undec long, meta_rows long",
        "i long, path string",
    ).collect()


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
          "files_pruned":        proven to contain no matching row,
          "files_metadata_only": proven all-match, counted from stats,
          "files_decoded":       undecided, decoded + exactly filtered,
          "blocks_kept":         blocks surviving may-match pruning,
          "blocks_decoded":      undecided blocks actually decoded —
                                 classification is block-granular, so a
                                 single-file state dir still reads only
                                 the blocks the proof cannot settle,
        }

    Pending tombstones force ``mode="fallback"`` (the count is still
    exact — it routes through :func:`decode_state`'s merge-on-read);
    purge them and the metadata path returns."""
    from d6tstack_spark.plans.checkpoint import (
        _blocks_dir,
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
    may_dnf = neg_dnf = combined = ref_cols = None
    if where is not None:
        from d6tstack_spark.operators.encode import (
            _strip_evolved_unprunable,
            compile_where,
        )

        cw = compile_where(spark, where, manifest)
        may_dnf = _strip_evolved_unprunable(cw.dnf or None, manifest)
        ref_cols = cw.columns
        # all-match proof: no row of a block may fail the predicate
        neg_dnf = _strip_evolved_unprunable(cw.not_dnf or None, manifest)

        # the undecided blocks decode under may AND may-fail — expressible
        # as a DNF only via branch products, so cap the blowup (past the
        # cap the proof is skipped, never wrong)
        if may_dnf and neg_dnf and len(may_dnf) * len(neg_dnf) <= 64:
            combined = [mb + nb for mb in may_dnf for nb in neg_dnf]
        else:
            neg_dnf = neg_dnf if may_dnf is None else None
            combined = may_dnf or neg_dnf

    # one job: per-file kept/undecided/all-match block tallies and the
    # metadata-counted rows, classified in the task from the file's own
    # stats by the same _zone_keep_ids_file the decode task runs — so the
    # undecided blocks counted here are exactly the ones decoded below
    tallies = _classify_files(spark, paths, manifest, may_dnf, neg_dnf)
    if where is None:
        report["files_metadata_only"] = len(basenames)
        count = sum(t["rows"] for t in tallies)
        return {"count": count, "mode": "metadata", **report}
    count = sum(t["meta_rows"] for t in tallies)
    undec_files = [paths[t["i"]] for t in tallies if t["undec"]]
    report["files_pruned"] = sum(1 for t in tallies if not t["kept"])
    report["files_metadata_only"] = sum(
        1 for t in tallies if t["kept"] and not t["undec"]
    )
    report["files_decoded"] = len(undec_files)
    # block-granular tallies: classification is per BLOCK, so even a
    # single-file state dir decodes only its undecided blocks
    report["blocks_total"] = sum(t["nblocks"] for t in tallies)
    report["blocks_kept"] = sum(t["kept"] for t in tallies)
    report["blocks_decoded"] = sum(t["undec"] for t in tallies)

    if undec_files:
        from d6tstack_spark.operators.encode import decode_parquet_blocks

        dec = decode_parquet_blocks(
            spark,
            _blocks_dir(state_dir),
            manifest,
            columns=ref_cols or None,
            block_filter=combined,
            paths=undec_files,
        )
        count += dec.filter(F.expr(where)).count()
    mode = "metadata" if not undec_files else "hybrid"
    return {"count": count, "mode": mode, **report}


def fast_profile(spark: SparkSession, state_dir: str) -> DataFrame:
    """Per-column data-quality profile — rows, nulls, non-nulls, blocks —
    from the stats rows alone: a full-table quality gate that reads zero
    payload bytes. ``n_rows`` is the TABLE row count for every column
    (evolved columns have no stats rows in pre-evolution blocks, but
    decode surfaces those rows as null — the profile reports what a
    decode would see, so nulls include the evolution backfill). Refuses
    pending tombstones (stats predate deletes; purge first) rather than
    silently overcounting."""
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
    raw = spark.read.parquet(*paths).select(
        F.input_file_name().alias("f"), "block_id", "column",
        "n_rows", "null_count",
    )
    total = (
        raw.groupBy("f", "block_id")
        .agg(F.max("n_rows").alias("r"))
        .agg(F.sum("r"))
        .collect()[0][0]
        or 0
    )
    return raw.groupBy("column").agg(
        F.lit(int(total)).alias("n_rows"),
        (F.lit(int(total)) - F.sum(F.col("n_rows") - F.col("null_count")))
        .alias("null_count"),
        F.sum(F.col("n_rows") - F.col("null_count")).alias("non_null"),
        F.count(F.lit(1)).alias("n_blocks"),
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
    raw = spark.read.parquet(*paths)
    if "vmin_num" not in raw.columns:
        return _exact_fallback()
    is_str = manifest[col]["ptype"] in ("str", "bin")
    lo_c, hi_c = ("vmin_str", "vmax_str") if is_str else (
        "vmin_num", "vmax_num")
    stats = (
        raw.filter(F.col("column") == col)
        .select(
            F.input_file_name().alias("f"), "block_id",
            "n_rows", "null_count", lo_c, hi_c,
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
