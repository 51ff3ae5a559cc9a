"""Encode→decode→bit-identical round-trip over Spark — the engine's core
correctness gate (north_rule), replaying d6tstack's write→read equivalence
pattern (reference tests/test_combine_csv.py:434-466) as codec round-trips.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from d6tstack_spark.operators.encode import (
    assign_block_ids,
    decode_table,
    encode_table,
)


def assert_roundtrip(df, order_cols, **kw):
    blocks, manifest = encode_table(df, order_cols=order_cols, **kw)
    blocks = blocks.cache()
    dec = decode_table(blocks, manifest)
    src = df.orderBy(*order_cols).toPandas()
    out = dec.orderBy(*order_cols).toPandas()
    pd.testing.assert_frame_equal(src, out)
    blocks.unpersist()
    return blocks, manifest


def test_transcripts_roundtrip(spark, transcripts_path):
    df = spark.read.parquet(transcripts_path)
    blocks, manifest = encode_table(df, order_cols=("conv_id", "turn_idx"))
    pblocks = blocks.toPandas()

    # every (block, column) exactly once
    assert not pblocks.duplicated(["block_id", "column"]).any()
    assert set(pblocks["column"]) == {"conv_id", "turn_idx", "role", "text", "tool", "ts"}

    # decode equals source bit-identically under stable ordering
    dec = decode_table(spark.createDataFrame(pblocks), manifest)
    src = df.orderBy("conv_id", "turn_idx").toPandas()
    out = dec.orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(src, out)

    # per-row invariant vs the reference: per-turn text equality
    assert (src["text"].fillna("\0") == out["text"].fillna("\0")).all()

    # the auto-selector picked sensible codecs (FIXTURES.md column design)
    codec_of = dict(zip(pblocks["column"], pblocks["codec"]))
    by_col = pblocks.groupby("column")["codec"].agg(lambda s: s.value_counts().idxmax())
    assert by_col["role"] == "dict"
    assert by_col["conv_id"] in ("rle", "dict")
    assert by_col["text"] == "fsst"
    assert by_col["turn_idx"] in ("for", "delta", "dict")
    assert by_col["ts"] in ("delta", "for")

    # compression actually happened
    totals = pblocks.groupby("column")[["raw_bytes", "enc_bytes"]].sum()
    assert (totals["enc_bytes"] < totals["raw_bytes"]).all(), totals


def test_events_roundtrip(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert_roundtrip(df, ("event_id",), bucket_col="user_id")


def test_lineitem_roundtrip(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert_roundtrip(df, ("l_orderkey", "l_linenumber"), bucket_col="l_orderkey")


def test_embeddings_roundtrip_fplist(spark, sf_dir):
    # list<float> takes the fplist codec (lengths + sign/exp/mantissa split)
    # and must actually COMPRESS, not just round-trip
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    blocks, manifest = encode_table(df, order_cols=("vec_id",), bucket_col="vec_id")
    assert manifest["embedding"]["ptype"] == "f32list"
    pb = blocks.toPandas()
    emb = pb[pb["column"] == "embedding"]
    assert set(emb["codec"]) == {"fplist"}
    ratio = emb["raw_bytes"].sum() / emb["enc_bytes"].sum()
    assert ratio > 1.2, f"embedding compression ratio {ratio:.3f} <= 1.2"
    dec = decode_table(spark.createDataFrame(pb), manifest)
    src = df.orderBy("vec_id").toPandas()
    out = dec.orderBy("vec_id").toPandas()
    pd.testing.assert_frame_equal(src, out)


def test_floatlist_null_lists_and_null_elements_roundtrip(spark):
    import pandas as pd_

    rows = [
        (0, [1.5, -0.0, 3.25]),
        (1, None),
        (2, []),
        (3, [float("nan")] * 4),
        (4, [0.1, 0.2]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    blocks, manifest = encode_table(df, order_cols=("id",))
    dec = decode_table(blocks, manifest).orderBy("id").toPandas()
    src = df.orderBy("id").toPandas()
    pd_.testing.assert_frame_equal(src, dec)

    # null ELEMENTS inside a list → arrow container fallback, still exact
    rows2 = [(0, [1.0, None, 2.0]), (1, [3.0])]
    df2 = spark.createDataFrame(rows2, "id long, v array<double>")
    blocks2, manifest2 = encode_table(df2, order_cols=("id",))
    pb2 = blocks2.toPandas()
    assert "arrow" in set(pb2[pb2["column"] == "v"]["codec"])
    dec2 = decode_table(spark.createDataFrame(pb2), manifest2).orderBy("id").toPandas()
    pd_.testing.assert_frame_equal(df2.orderBy("id").toPandas(), dec2)


def test_decode_parquet_blocks_shuffle_free(spark, transcripts_path, tmp_path):
    """The per-file bulk decode equals the shuffle decode and the source,
    with zero Exchange nodes in its plan; column pruning decodes a
    projection only."""
    import pandas as pd_
    from pyspark.sql import functions as F_

    from d6tstack_spark.operators.encode import (
        decode_parquet_blocks,
        encode_parquet_files,
    )
    from d6tstack_spark.operators.sinks import write_blocks

    blocks, manifest = encode_parquet_files(spark, transcripts_path)
    out = str(tmp_path / "blocks")
    write_blocks(blocks, out)
    dec = decode_parquet_blocks(spark, out, manifest)
    p = dec._sc._jvm.PythonSQLUtils.explainString(
        dec._jdf.queryExecution(), "formatted"
    )
    # no Exchange at all: a range source hands each task one file index,
    # and the payload bytes go straight from that task's pyarrow file
    # read into the decoder
    assert "Exchange" not in p
    assert "MapInArrow" in p
    src = spark.read.parquet(transcripts_path)
    pd_.testing.assert_frame_equal(
        src.orderBy("conv_id", "turn_idx").toPandas(),
        dec.orderBy("conv_id", "turn_idx").toPandas(),
    )
    # pruned decode: only two columns materialize
    two = decode_parquet_blocks(spark, out, manifest,
                                columns=["conv_id", "turn_idx"])
    assert two.columns == ["conv_id", "turn_idx"]
    assert two.count() == src.count()
    assert two.agg(F_.sum("turn_idx")).first()[0] == src.agg(
        F_.sum("turn_idx")
    ).first()[0]


def test_write_blocks_rejects_max_records_per_file(spark, transcripts_path, tmp_path):
    """A nonzero spark.sql.files.maxRecordsPerFile could split one block's
    column-rows across files, silently breaking the per-file complete-block
    invariant the shuffle-free decode depends on — write_blocks must refuse."""
    import pytest as _pytest

    from d6tstack_spark.operators.encode import encode_parquet_files
    from d6tstack_spark.operators.sinks import write_blocks

    blocks, _ = encode_parquet_files(spark, transcripts_path)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
    try:
        with _pytest.raises(ValueError, match="maxRecordsPerFile"):
            write_blocks(blocks, str(tmp_path / "blocks_bad"))
    finally:
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")


def test_hadoop_list_files_matches_glob(spark, transcripts_path, tmp_path):
    """The scheme-agnostic Hadoop listing returns the same files as a local
    glob, for both plain and file:-scheme roots (the decode path must work
    on hdfs://-style URIs a driver-side glob can't resolve): files in
    nested subdirectories are listed, their ``.crc`` and ``_SUCCESS``
    siblings are not, and a missing root lists nothing."""
    import glob as _glob
    import os as _os
    import shutil as _shutil

    from d6tstack_spark.operators.encode import (
        _hadoop_list_files,
        encode_parquet_files,
    )
    from d6tstack_spark.operators.sinks import write_blocks

    blocks, _ = encode_parquet_files(spark, transcripts_path)
    out = str(tmp_path / "blocks")
    write_blocks(blocks, out)
    nested = _os.path.join(out, "sub", "deeper")
    _os.makedirs(nested)
    first = sorted(_glob.glob(_os.path.join(out, "*.parquet")))[0]
    _shutil.copy(first, _os.path.join(nested, "nested.parquet"))
    for sibling in (".nested.parquet.crc", "_SUCCESS"):
        open(_os.path.join(nested, sibling), "w").close()
    want = sorted(
        _glob.glob(_os.path.join(out, "**", "*.parquet"), recursive=True)
    )
    assert _os.path.join(nested, "nested.parquet") in want
    listed = _hadoop_list_files(spark, out, ".parquet")
    assert sorted(listed) == want
    assert not [p for p in listed if p.endswith((".crc", "_SUCCESS"))]
    assert sorted(_hadoop_list_files(spark, f"file://{out}", ".parquet")) == want
    assert _hadoop_list_files(spark, str(tmp_path / "missing"), ".parquet") == []


def test_oversized_block_auto_splits(spark, tmp_path):
    """A block whose string column would overflow Arrow's int32 offsets must
    auto-split into sub-blocks and still round-trip bit-identically. 2 GiB is
    untestable here, so the per-column budget shrinks to 2 KB via the
    max_block_col_bytes parameter — the split logic is byte-threshold-driven
    either way (and the parameter rides the encoder closure, reaching
    executor workers)."""
    import pandas as pd_

    from d6tstack_spark.operators import encode as enc
    from d6tstack_spark.operators.encode import (
        decode_parquet_blocks,
        decode_table,
        encode_parquet_files,
        encode_table,
    )

    rows = [(i, f"conv{i % 3}", "x" * 500 + str(i)) for i in range(64)]
    df = spark.createDataFrame(rows, "turn_idx int, conv_id string, text string")

    # DataFrame path (local mode): one task's 64 rows × ~500 B ≫ 2 KB budget
    blocks, manifest = encode_table(
        df.coalesce(1), order_cols=("conv_id", "turn_idx"),
        max_block_col_bytes=2000,
    )
    pdf = blocks.select("block_id", "column").toPandas()
    assert pdf["block_id"].nunique() > 1  # split happened
    assert (pdf["block_id"] % (1 << enc.SUB_BLOCK_BITS) > 0).any()  # sub ids
    got = decode_table(blocks, manifest).orderBy("turn_idx").toPandas()
    want = df.orderBy("turn_idx").toPandas()
    pd_.testing.assert_frame_equal(want, got[want.columns.tolist()])

    # scan-fused path + shuffle-free bulk decode
    src = str(tmp_path / "src.parquet")
    df.toPandas().to_parquet(src, row_group_size=32)
    fb, fm = encode_parquet_files(
        spark, src, order_cols=("conv_id", "turn_idx"),
        max_block_col_bytes=2000,
    )
    out = str(tmp_path / "blocks")
    from d6tstack_spark.operators.sinks import write_blocks

    write_blocks(fb, out)
    assert spark.read.parquet(out).select("block_id").distinct().count() > 2
    got2 = (
        decode_parquet_blocks(spark, out, fm).orderBy("turn_idx").toPandas()
    )
    pd_.testing.assert_frame_equal(want, got2[want.columns.tolist()])

    # guard: a split that cannot fit 256 sub-blocks raises loudly
    import pytest as _pytest

    big = spark.createDataFrame(
        [(i, "c", "y" * 2000) for i in range(300)],
        "turn_idx int, conv_id string, text string",
    )
    with _pytest.raises(Exception, match="sub-blocks"):
        b3, _ = encode_table(big.coalesce(1), max_block_col_bytes=1)
        b3.count()


def test_encode_bitwise_deterministic_across_runs(spark, transcripts_path):
    """Two independent encodes of the same input produce byte-identical
    blocks (codec choice, dictionaries, literal order — everything): the
    property that makes Spark task RETRIES safe (a re-executed task
    overwrites itself) and resume states reproducible."""
    from d6tstack_spark.operators.encode import encode_parquet_files

    def fingerprint():
        blocks, _ = encode_parquet_files(spark, transcripts_path)
        return sorted(
            (r["block_id"], r["column"], r["codec"], r["crc"], r["enc_bytes"])
            for r in blocks.select(
                "block_id", "column", "codec", "crc", "enc_bytes"
            ).collect()
        )

    a, b = fingerprint(), fingerprint()
    assert a == b and len(a) > 0


def test_codec_override(spark, transcripts_path):
    df = spark.read.parquet(transcripts_path).select("conv_id", "turn_idx", "role")
    blocks, manifest = encode_table(
        df, order_cols=("conv_id", "turn_idx"), codec_overrides={"role": "plain"}
    )
    pb = blocks.toPandas()
    assert (pb[pb["column"] == "role"]["codec"] == "plain").all()
    dec = decode_table(spark.createDataFrame(pb), manifest).orderBy("conv_id", "turn_idx")
    pd.testing.assert_frame_equal(
        df.orderBy("conv_id", "turn_idx").toPandas(), dec.toPandas()
    )


def test_skew_salting_splits_hot_conversations(spark, transcripts_path):
    df = spark.read.parquet(transcripts_path)
    # the 3 hot conversations own ~10% of 6000 turns ⇒ ~200 rows each;
    # salt at 50 rows → each hot conv must span ≥2 block ids
    withid = assign_block_ids(df, "conv_id", "turn_idx", 16, skew_max_rows=50)
    counts = (
        withid.groupBy("conv_id")
        .agg(F.countDistinct("__block_id").alias("nblk"), F.count("*").alias("n"))
        .toPandas()
    )
    hot = counts[counts["n"] > 50]
    assert (hot["nblk"] > 1).all()
    cold = counts[counts["n"] <= 50]
    assert (cold["nblk"] == 1).all()

    # round-trip still exact with aggressive salting
    blocks, manifest = encode_table(
        df, order_cols=("conv_id", "turn_idx"), skew_max_rows=50
    )
    dec = decode_table(blocks, manifest)
    pd.testing.assert_frame_equal(
        df.orderBy("conv_id", "turn_idx").toPandas(),
        dec.orderBy("conv_id", "turn_idx").toPandas(),
    )


def test_encode_table_checks_order_columns_before_any_job(spark):
    """The cluster-mode salt divides the last order column, so with
    ``skew_max_rows`` set a timestamp, date, boolean or double there
    raises a ValueError naming it before any Spark job; the same frame
    encodes and round-trips with ``skew_max_rows=None``. An order column
    the frame lacks raises before any job in either mode."""
    import datetime as dt

    from conftest import spark_jobs

    rows = [
        (i % 3, dt.datetime(2021, 3, 14, 1) + dt.timedelta(minutes=17 * i),
         dt.datetime(2021, 3, 14, 1) + dt.timedelta(minutes=13 * i),
         dt.date(2021, 1, 1) + dt.timedelta(days=i), i % 2 == 0, i / 4)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "k bigint, t timestamp, tn timestamp_ntz, d date, b boolean, "
        "x double",
    )
    for col in ("t", "tn", "d", "b", "x"):
        def encode(col=col):
            with pytest.raises(ValueError, match=f"'{col}' must be an integer"):
                encode_table(df, order_cols=("k", col), mode="cluster",
                             skew_max_rows=10)

        assert spark_jobs(spark, encode)[1] == 0, col
    for mode in ("local", "cluster"):
        def encode(mode=mode):
            with pytest.raises(ValueError, match=r"\['nope'\] are not"):
                encode_table(df, order_cols=("k", "nope"), mode=mode)

        assert spark_jobs(spark, encode)[1] == 0, mode
    assert_roundtrip(df, ("k", "t"), mode="cluster", skew_max_rows=None)


def test_fused_parquet_roundtrip(spark, transcripts_path):
    """Scan-fused encode (encode_parquet_files) round-trips bit-identically
    and produces one block per row-group split with deterministic ids."""
    from d6tstack_spark.operators.encode import encode_parquet_files

    blocks, manifest = encode_parquet_files(
        spark, transcripts_path, order_cols=("conv_id", "turn_idx")
    )
    pb = blocks.toPandas()
    assert set(pb["column"]) == {"conv_id", "turn_idx", "role", "text", "tool", "ts"}
    # deterministic ids: rerun yields the same block set
    pb2 = encode_parquet_files(
        spark, transcripts_path, order_cols=("conv_id", "turn_idx")
    )[0].toPandas()
    assert sorted(pb["block_id"].unique()) == sorted(pb2["block_id"].unique())
    assert (pb.sort_values(["block_id", "column"])["crc"].to_numpy()
            == pb2.sort_values(["block_id", "column"])["crc"].to_numpy()).all()

    dec = decode_table(spark.createDataFrame(pb), manifest)
    src = spark.read.parquet(transcripts_path)
    pd.testing.assert_frame_equal(
        src.orderBy("conv_id", "turn_idx").toPandas(),
        dec.orderBy("conv_id", "turn_idx").toPandas(),
    )


def test_partial_column_decode(spark, transcripts_path):
    """Decode a projection: only the requested columns' blocks are read."""
    from d6tstack_spark.operators.encode import encode_parquet_files

    blocks, manifest = encode_parquet_files(spark, transcripts_path)
    dec = decode_table(blocks, manifest, columns=["conv_id", "turn_idx", "role"])
    assert dec.columns == ["conv_id", "turn_idx", "role"]
    src = spark.read.parquet(transcripts_path).select("conv_id", "turn_idx", "role")
    pd.testing.assert_frame_equal(
        src.orderBy("conv_id", "turn_idx").toPandas(),
        dec.orderBy("conv_id", "turn_idx").toPandas(),
    )
    with pytest.raises(ValueError, match="not in manifest"):
        decode_table(blocks, manifest, columns=["nope"])


def test_empty_table_roundtrip(spark, transcripts_path):
    df = spark.read.parquet(transcripts_path).filter(F.lit(False))
    blocks, manifest = encode_table(df, order_cols=("conv_id", "turn_idx"))
    assert blocks.count() == 0
    assert decode_table(blocks, manifest).count() == 0


def test_oversized_split_handles_byte_skew():
    """One multi-KB row among tiny ones: an equal-row-count single-pass cut
    would leave the sub-slice holding the big row still over budget (the
    very overflow the split exists to prevent); the recursive split keeps
    cutting until every part fits, preserving row order."""
    import pyarrow as pa_

    from d6tstack_spark.operators.encode import _split_oversized

    man = {"text": {"ptype": "str", "logical": "str"}}
    vals = ["s"] * 100 + ["X" * 50_000] + ["t"] * 100
    tbl = pa_.table({"text": pa_.array(vals, pa_.string())})
    parts = _split_oversized(tbl, man, budget=4_000)
    assert all(
        p.column("text").nbytes <= 4_000 or p.num_rows == 1 for p in parts
    )
    # order and content preserved
    got = [v for p in parts for v in p.column("text").to_pylist()]
    assert got == vals
    # the big row ends up alone in its own sub-block
    assert any(p.num_rows == 1 and p.column("text").nbytes > 4_000 for p in parts)
