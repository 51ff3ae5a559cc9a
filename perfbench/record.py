"""Record the pins perfbench/run.py checks: the digest of the generated
inputs for each seed, the sha256 of every sf0.1 table file, and the row
count and content hash of every headline query result.

    python3 perfbench/record.py --seeds 0-20

Run it only on a tree whose outputs are known good; it overwrites
perfbench/expected.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import ROOT, Box, file_digest, log, table_digest  # noqa: E402

sys.path.insert(0, ROOT)

from bench import SF_DIR  # noqa: E402

import workloads as W  # noqa: E402


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="0-20")
    args = p.parse_args()

    from d6tstack_spark.datagen import gen_transcripts

    sizes = {"table_mixed": W.BASE_TURNS + W.APPEND_TURNS * W.APPEND_POOL}
    inputs = {w: {} for w in sizes}
    for seed in seed_range(args.seeds):
        for w, n in sizes.items():
            inputs[w][str(seed)] = table_digest(gen_transcripts(n, seed))
        log(f"seed {seed} pinned")
    files = sorted(f for f in os.listdir(SF_DIR) if f.endswith(".parquet"))
    sf_files = {f: file_digest(os.path.join(SF_DIR, f)) for f in files}

    work = os.path.join(ROOT, ".perfbench_work", f"record-{os.getpid()}")
    os.makedirs(work)
    box = Box(work)
    headline = {}
    try:
        spark = box.start_spark()
        names, qs = W.headline_queries()
        for q in names:
            first = W.result_hash(qs[q](spark, SF_DIR))
            again = W.result_hash(qs[q](spark, SF_DIR))
            if first != again:
                raise RuntimeError(f"{q} is not deterministic: {first} vs {again}")
            headline[q] = {"rows": first[0], "hash": first[1]}
            log(f"{q}: {headline[q]}")
    finally:
        box.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    out = {"inputs": inputs, "sf0.1_files": sf_files, "headline": headline}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
