"""Measure the Bloom point-lookup index on a realistic multi-file state
dir: encode sf-scale transcripts (time-ordered, so conv_id zone ranges
overlap in every file — the zone maps' blind spot), build the sidecar,
and compare a point decode with and without it.

Run:
    python examples/bloom_scale_probe.py [sf]     # default 0.5 (~3M turns)

Prints one JSON line: files before/after pruning, wall seconds for the
indexed and unindexed point lookup, index build time and sidecar bytes.
Feeds SCALE.md's Bloom-index section.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from d6tstack_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.5
    spark = get_spark()
    from d6tstack_spark.datagen import write_transcripts
    from d6tstack_spark.plans.bloomidx import build_bloom_index
    from d6tstack_spark.plans.checkpoint import (
        decode_state,
        encode_resume,
        load_manifest,
    )
    from d6tstack_spark.plans.explain import explain_decode

    cache = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache"
    )
    src_path = write_transcripts(cache, sf=sf)
    sd = tempfile.mkdtemp(prefix="bloomprobe_") + "/state"
    # checkpoint_every splits the encode into many commit batches → many
    # block files, the shape a streaming/resumed 100 TB dir actually has
    encode_resume(
        spark, [src_path], sd,
        order_cols=("conv_id", "turn_idx"), checkpoint_every=16,
    )
    n_files = len(glob.glob(os.path.join(sd, "blocks", "*.parquet")))

    # a TYPICAL conv (the datagen plants skewed hot convs that appear in
    # nearly every file — those are the salting story, not the index's)
    from pyspark.sql import functions as F

    probe = (
        decode_state(spark, sd, columns=["conv_id"])
        .groupBy("conv_id")
        .count()
        .filter("count <= 12")
        .orderBy("conv_id")
        .limit(1)
        .collect()[0][0]
    )
    where = f"conv_id = '{probe}'"
    manifest = load_manifest(sd)
    n_true = None

    def _timed_lookup():
        t0 = time.time()
        n = decode_state(spark, sd, where=where).count()
        return time.time() - t0, n

    # warm + measure WITHOUT index (min of 3)
    walls_no = []
    for _ in range(3):
        w, n_true = _timed_lookup()
        walls_no.append(w)

    t0 = time.time()
    build_bloom_index(spark, sd, ["conv_id"])
    build_s = time.time() - t0
    idx_bytes = sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(sd, "bloomidx", "*", "*.bloom"))
    )

    plan = explain_decode(spark, sd, where=where)
    walls_idx = []
    for _ in range(3):
        w, n2 = _timed_lookup()
        assert n2 == n_true, (n2, n_true)
        walls_idx.append(w)

    print(
        json.dumps(
            {
                "sf": sf,
                "files_total": n_files,
                "files_after_bloom": plan["files_after_bloom"],
                "files_after_zone": plan["files_after_zone"],
                "est_rows_scanned": plan["est_rows_scanned"],
                "rows_matched": n_true,
                "lookup_sec_no_index": round(min(walls_no), 3),
                "lookup_sec_indexed": round(min(walls_idx), 3),
                "index_build_sec": round(build_s, 2),
                "index_bytes": idx_bytes,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
