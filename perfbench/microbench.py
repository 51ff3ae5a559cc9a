"""Codec, block-framing and selector microbenchmark (traced runs only).

Encodes one 65,536-row block of every transcript column with every valid
codec forced, through ``codecs.blocks.encode_block`` (numeric columns) or
``encode_block_arrow`` (string columns) and the matching decoder, then once
more with ``codec=None`` so the selector chooses. The sf0.1 ``events.value``
column stands in for a float column, which transcripts lack. Every decode
is checked against its source column.
"""

from __future__ import annotations

import os
import time

import numpy as np

BLOCK_ROWS = 65536
REPS = 2
CODECS = ("plain", "dict", "rle", "for", "bitpack", "delta", "fsst", "zstd", "fpsplit")


def _columns(seed: int, sf_dir: str) -> list[tuple[str, str, object]]:
    """(name, ptype, arrow array) for every benchmarked column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from d6tstack_spark.datagen import gen_transcripts

    tbl = gen_transcripts(BLOCK_ROWS, seed)
    cols = []
    for name in tbl.column_names:
        arr = tbl.column(name).combine_chunks()
        if pa.types.is_string(arr.type):
            cols.append((name, "str", arr.cast(pa.binary())))
        elif pa.types.is_timestamp(arr.type):
            cols.append((name, "i64", arr.cast(pa.int64())))
        else:
            cols.append((name, "i32", arr))
    value = pq.read_table(
        os.path.join(sf_dir, "events.parquet"), columns=["value"]
    ).column(0).combine_chunks().slice(0, BLOCK_ROWS)
    cols.append(("events.value", "f64", value))
    return cols


def _codecs_for(ptype: str) -> list[str]:
    from d6tstack_spark.codecs import kernels

    valid = kernels.valid_codecs(ptype)
    # zstd is a forced-only codec the selector never picks; time it on the
    # string columns, which have an Arrow-native zstd path
    return valid + ["zstd"] if ptype == "str" else valid


def _best_time(fn):
    best, out = float("inf"), None
    for _ in range(REPS):
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
    return best, out


def _coders(arr, ptype: str):
    """(encode(codec), decode(block) -> arrow array) for one column."""
    import pyarrow as pa

    from d6tstack_spark.codecs import blocks

    if ptype == "str":
        def enc(codec):
            return blocks.encode_block_arrow(arr, ptype, codec=codec)

        def dec(b):
            return blocks.decode_block_arrow(
                b.payload, b.params, b.codec, b.n_rows, b.null_count, ptype
            )

        return enc, dec

    values = arr.fill_null(0).to_numpy(zero_copy_only=False)
    valid = np.asarray(arr.is_valid()) if arr.null_count else None

    def enc(codec):
        return blocks.encode_block(values, valid, ptype, codec=codec)

    def dec(b):
        v, ok = blocks.decode_block(
            b.payload, b.params, b.codec, b.n_rows, b.null_count, ptype
        )
        return pa.array(v, type=arr.type, mask=~ok)

    return enc, dec


def _choose_s(arr, ptype: str) -> float:
    """Selector time for one block, called the way the encoders call it."""
    from d6tstack_spark.codecs import selector

    nn = arr.drop_null()
    if ptype == "str":
        import pyarrow.compute as pc

        sample = nn.slice(0, 4096)
        sample_np = np.asarray(sample.to_numpy(zero_copy_only=False), dtype=object)
        lens = pc.binary_length(sample).to_numpy().astype(np.int64)

        def choose():
            stats = selector.sniff_stats(sample_np, ptype, sample_lens=lens)
            stats["n_total"] = len(nn)
            return selector.choose_codec(sample_np, ptype, stats)
    else:
        values = nn.to_numpy(zero_copy_only=False)

        def choose():
            return selector.choose_codec(values, ptype)

    best, _ = _best_time(choose)
    return best


def run(seed: int, sf_dir: str) -> tuple[dict, int, int]:
    """Returns (per-layer metrics, checks attempted, checks failed)."""
    from d6tstack_spark.codecs.kernels import valid_codecs

    enc_s = dict.fromkeys(CODECS, 0.0)
    dec_s = dict.fromkeys(CODECS, 0.0)
    raw = dict.fromkeys(CODECS, 0)
    auto_enc_s = auto_dec_s = 0.0
    auto_raw = auto_bytes = best_bytes = 0
    choose_s = []
    attempted = failed = 0
    for _name, ptype, arr in _columns(seed, sf_dir):
        enc, dec = _coders(arr, ptype)
        sizes = {}
        for codec in _codecs_for(ptype):
            attempted += 1
            te, block = _best_time(lambda: enc(codec))
            td, back = _best_time(lambda: dec(block))
            if not back.equals(arr):
                failed += 1
            enc_s[codec] += te
            dec_s[codec] += td
            raw[codec] += block.raw_bytes
            sizes[codec] = block.enc_bytes
        attempted += 1
        te, block = _best_time(lambda: enc(None))
        td, back = _best_time(lambda: dec(block))
        if not back.equals(arr):
            failed += 1
        auto_enc_s += te
        auto_dec_s += td
        auto_raw += block.raw_bytes
        auto_bytes += block.enc_bytes
        best_bytes += min(sizes[c] for c in valid_codecs(ptype))
        choose_s.append(_choose_s(arr, ptype))

    out = {}
    for c in CODECS:
        out[f"kernels.{c}.enc_MBps"] = raw[c] / enc_s[c] / 1e6 if enc_s[c] else 0.0
        out[f"kernels.{c}.dec_MBps"] = raw[c] / dec_s[c] / 1e6 if dec_s[c] else 0.0
    out["blocks.enc_MBps"] = auto_raw / auto_enc_s / 1e6
    out["blocks.dec_MBps"] = auto_raw / auto_dec_s / 1e6
    out["selector.choose_ms_per_block"] = 1e3 * sum(choose_s) / len(choose_s)
    out["selector.regret_frac"] = auto_bytes / best_bytes - 1.0
    return out, attempted, failed
