"""Compression-ratio / lineage metrics over the blocks table.

Generalizes the reference's pluggable logger + sync size totals
(utils.py:7-12, sync.py:140-141) into queryable metric DataFrames — the
blocks table IS the lineage record (SURVEY.md §2.4 A6)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def compression_rollup(blocks: DataFrame) -> DataFrame:
    """Per (column, codec): blocks, rows, raw/encoded bytes, ratio."""
    return (
        blocks.groupBy("column", "codec")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum("n_rows").alias("rows"),
            F.sum("null_count").alias("nulls"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
        .withColumn(
            "ratio",
            F.round(
                F.col("raw_bytes").cast("double")
                / F.greatest(F.col("enc_bytes"), F.lit(1)).cast("double"),
                3,
            ),
        )
        .orderBy("column", "codec")
    )


def table_totals(blocks: DataFrame) -> DataFrame:
    """Whole-table totals: encoded vs raw bytes and overall ratio."""
    return blocks.agg(
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.countDistinct("block_id").alias("n_blocks"),
        (
            F.sum("raw_bytes").cast("double")
            / F.greatest(F.sum("enc_bytes"), F.lit(1)).cast("double")
        ).alias("ratio"),
    )


def state_info(spark, state_dir: str, with_ndv: bool = False) -> dict:
    """One-call operational inspection of an encoded state dir — the
    ``DESCRIBE EXTENDED`` of the block format. Everything except the
    blocks rollup is metadata-file reads; the rollup itself is a
    stats-column scan (payload column pruned away by parquet projection).

    Returns: format/id-scheme, column count, blocks totals (files,
    blocks, rows, raw/enc bytes, ratio), pending tombstones, whether an
    in-flight purge commit journal exists, rewritten-block generations
    (purge counter), and the writer-lease holder if one is live."""
    import json
    import os
    import time as _time

    from d6tstack_spark.operators.encode import _hadoop_list_files
    from d6tstack_spark.plans.checkpoint import (
        _blocks_dir,
        _format_path,
        _lease_path,
        _purge_journal_path,
        _purge_seq_path,
        _rewritten_dir,
        load_deletes,
        load_manifest,
    )

    info: dict = {"state_dir": state_dir}
    fp = _format_path(state_dir)
    if os.path.exists(fp):
        with open(fp) as f:
            info["format"] = json.load(f)
    manifest = load_manifest(state_dir)  # raises on non-state dirs
    info["columns"] = list(manifest)
    evolved = [c for c, m in manifest.items() if m.get("evolved")]
    if evolved:
        info["evolved_columns"] = evolved
    from d6tstack_spark.plans.checkpoint import load_snapshots

    snaps = load_snapshots(state_dir)
    if snaps:
        # rewrites RETIRE replaced files (snapshot retention), so every
        # logged snapshot stays readable until expire_snapshots raises
        # the watermark
        from d6tstack_spark.plans.checkpoint import _expired_before

        info["snapshots"] = {
            "n": len(snaps),
            "latest": snaps[-1]["id"],
            "earliest_readable": max(
                _expired_before(state_dir), snaps[0]["id"]
            ),
        }
    from d6tstack_spark.plans.bloomidx import (
        bloom_covered_files,
        load_bloom_meta,
    )

    bmeta = load_bloom_meta(state_dir)
    paths = _hadoop_list_files(spark, _blocks_dir(state_dir), ".parquet")
    info["n_files"] = len(paths)
    if bmeta is not None:
        # from the blob listing, no Spark job
        live = {os.path.basename(p) for p in paths}
        covered = bloom_covered_files(state_dir, live)
        info["bloom_index"] = {
            "columns": bmeta["columns"],
            "m_bits": bmeta["m_bits"],
            "files_covered": len(covered & live),
            "files_uncovered": len(live - covered),
        }
    from d6tstack_spark.plans.ndvstats import load_ndv_meta, ndv_estimates

    nmeta = load_ndv_meta(state_dir)
    if nmeta is not None:
        info["ndv_stats"] = {
            "columns": nmeta["columns"],
            "lg_k": nmeta["lg_k"],
        }
        if with_ndv:
            # the register merge is a real (if metadata-sized) Spark job
            # — one shuffle-free pass reading every sketched blob — so the
            # default inspection call reports only the sidecar's presence
            info["ndv_stats"]["estimates"] = {
                r["column"]: r["ndv_estimate"]
                for r in ndv_estimates(spark, state_dir).collect()
            }
    if paths:
        # the stats columns under their known schema, one SQL aggregate
        t = (
            spark.read.schema("block_id long, raw_bytes long, enc_bytes long")
            .parquet(*paths)
            .selectExpr(
                "count(DISTINCT block_id)", "sum(raw_bytes)", "sum(enc_bytes)"
            )
            .first()
        )
        info["n_blocks"] = int(t[0])
        info["raw_bytes"] = int(t[1] or 0)
        info["enc_bytes"] = int(t[2] or 0)
        info["ratio"] = round(info["raw_bytes"] / max(info["enc_bytes"], 1), 3)
    else:
        info.update(n_blocks=0, raw_bytes=0, enc_bytes=0, ratio=None)
    info["pending_tombstones"] = load_deletes(state_dir)
    info["purge_in_flight"] = os.path.exists(_purge_journal_path(state_dir))
    sp = _purge_seq_path(state_dir)
    if os.path.exists(sp):
        with open(sp) as f:
            info["rewritten_blocks_allocated"] = json.load(f)["next"]
    info["has_rewritten_bases"] = os.path.isdir(_rewritten_dir(state_dir))
    lp = _lease_path(state_dir)
    if os.path.exists(lp):
        try:
            with open(lp) as f:
                holder = json.load(f)
            holder["heartbeat_age_sec"] = round(
                _time.time() - os.path.getmtime(lp), 1
            )
            info["lease"] = holder
        except (OSError, ValueError):
            pass  # holder released mid-read
    return info
