"""Stack/combine semantics — replays the reference's schema-drift fixtures
(tests/test_combine_csv.py:126-206) as partition-level variants (FIXTURES.md
T2) with unionByName goldens (the golden-construction pattern,
tests/test_combine_csv.py:103-109)."""

from __future__ import annotations

import warnings

import pandas as pd
import pytest
from pyspark.sql import functions as F

from d6tstack_spark.functions import helpers
from d6tstack_spark.operators.stack import (
    apply_renames,
    canonical_order,
    columns_common,
    columns_unique,
    presence_matrix,
    stack,
)


@pytest.fixture(scope="module")
def parts(spark):
    base = spark.createDataFrame(
        [(i, f"t{i}", float(i)) for i in range(10)], "id int, text string, v double"
    )
    drifted = spark.createDataFrame(
        [(i, f"t{i}", float(i), i * 2) for i in range(10, 20)],
        "id int, text string, v double, tokens int",
    )
    reordered = spark.createDataFrame(
        [(f"t{i}", i, float(i)) for i in range(20, 30)],
        "text string, id int, v double",
    )
    renamed = spark.createDataFrame(
        [(i, f"t{i}", float(i)) for i in range(30, 40)],
        "id int, content string, v double",
    )
    return base, drifted, reordered, renamed


def test_colmismatch_union_null_fill(spark, parts):
    base, drifted, _, _ = parts
    out = stack([base, drifted]).orderBy("id").toPandas()
    golden = (
        base.unionByName(drifted, allowMissingColumns=True).orderBy("id").toPandas()
    )
    pd.testing.assert_frame_equal(out, golden)
    assert out["tokens"].isna().sum() == 10  # missing column → nulls


def test_reorder_aligns_by_name(spark, parts):
    base, _, reordered, _ = parts
    out = stack([base, reordered]).orderBy("id").toPandas()
    assert list(out.columns) == ["id", "text", "v"]
    assert (out["text"] == "t" + out["id"].astype(str)).all()  # values landed right


def test_rename_map_unifies(spark, parts):
    base, _, _, renamed = parts
    out = stack([base, renamed], rename_maps=[None, {"content": "text"}])
    p = out.orderBy("id").toPandas()
    assert list(p.columns) == ["id", "text", "v"]
    assert p["text"].notna().all()


def test_rename_conflict_skipped_with_warning(spark, parts):
    base, *_ = parts
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = apply_renames(base, {"text": "v"})  # v exists → conflict
        assert any("conflict" in str(x.message) for x in w)
    assert out.columns == base.columns


def test_provenance_and_select(spark, parts):
    base, drifted, _, _ = parts
    out = stack(
        [base, drifted],
        source_names=["jan.csv", "feb.csv"],
        add_filename=True,
        columns_select=["id", "text"],
    )
    p = out.toPandas()
    assert list(p.columns) == ["id", "text", "filename"]
    assert set(p["filename"]) == {"jan.csv", "feb.csv"}
    with pytest.raises(ValueError, match="duplicate"):
        stack([base], columns_select=["id", "id"])  # combine_csv.py:89-91


def test_common_only_and_apply_hook(spark, parts):
    base, drifted, _, _ = parts
    out = stack(
        [base, drifted],
        columns_common_only=True,
        apply_after_read=lambda d: d.withColumn("v2", F.col("v") * 2),
    )
    assert set(out.columns) == {"id", "text", "v", "v2"}  # hook ran per source


def test_canonical_order_mode_of_positions(spark, parts):
    base, drifted, reordered, _ = parts
    # id at positions [0,0,1] → mode 0; text at [1,1,0] → mode 1
    assert canonical_order([base, drifted, reordered]) == ["id", "text", "v", "tokens"]
    assert columns_common([base, drifted, reordered]) == ["id", "text", "v"]
    assert columns_unique([base, drifted]) == ["tokens"]


def test_presence_matrix(spark, parts):
    base, drifted, _, _ = parts
    m = presence_matrix([base, drifted], ["a", "b"]).toPandas()
    assert len(m) == 3 + 4
    pos = m.set_index(["file", "column"])["position"]
    assert pos[("b", "tokens")] == 3


def test_helpers_algebra():
    lists = [["a", "b"], ["b", "a"], ["a", "b", "c"]]
    assert not helpers.columns_all_equal(lists)
    assert helpers.columns_all_equal(lists[:2])
    assert helpers.list_common(lists) == ["a", "b"]
    assert helpers.list_unique(lists) == ["c"]
    with pytest.raises(IOError, match="mixed"):
        helpers.check_valid_files(["a.csv", "b.parquet"])
    with pytest.raises(IOError, match="invalid"):
        helpers.check_valid_files(["a.xls"])
    helpers.check_valid_files(["a.csv", "b.csv"])
    assert helpers.basename("/x/y/z.csv") == "z.csv"


# ------------------------------------------------------------------- jsonl


def test_jsonl_stacked_drift_alignment(spark, tmp_path):
    """Two JSONL files with drifted schemas stack into the aligned
    superset: absent fields null, conflicting types widened, provenance
    attached — the CSV combiner semantics on the LLM-corpus format."""
    import json as _json

    from d6tstack_spark.sources.jsonl import read_jsonl_stacked, sniff_jsonl

    a = tmp_path / "a.jsonl"
    b = tmp_path / "b.jsonl"
    a.write_text(
        "\n".join(_json.dumps({"id": i, "text": f"t{i}", "score": i})  # long
                  for i in range(5)) + "\n"
    )
    b.write_text(
        "\n".join(_json.dumps({"id": i, "score": i / 2, "lang": "en"})  # double
                  for i in range(5, 8)) + "\n"
    )
    sa = sniff_jsonl(spark, str(a))
    assert [f.name for f in sa.fields] == ["id", "score", "text"]
    df = read_jsonl_stacked(spark, [str(a), str(b)])
    assert set(df.columns) == {"id", "text", "score", "lang", "filename"}
    assert dict(df.dtypes)["score"] == "double"  # widened long+double
    got = df.orderBy("id").collect()
    assert len(got) == 8
    assert got[0]["text"] == "t0" and got[0]["lang"] is None
    assert got[7]["text"] is None and got[7]["lang"] == "en"
    assert got[7]["score"] == 3.5
    assert {r["filename"] for r in got} == {"a.jsonl", "b.jsonl"}
    # column selection keeps provenance
    sel = read_jsonl_stacked(spark, [str(a), str(b)], columns_select=["id", "lang"])
    assert sel.columns == ["id", "lang", "filename"]


def test_sniff_jsonl_stays_on_the_jvm(spark, tmp_path, monkeypatch):
    """The schema sample goes straight from the text scan to the JVM JSON
    reader: no Python RDD (``parallelize`` would start a second Python
    worker daemon). Blank lines are skipped; an all-blank file sniffs to
    the empty schema."""
    import json as _json

    from pyspark import SparkContext

    from d6tstack_spark.sources.jsonl import sniff_jsonl

    def refuse(*args, **kwargs):
        raise AssertionError("sniff_jsonl built a Python RDD")

    monkeypatch.setattr(SparkContext, "parallelize", refuse)
    a = tmp_path / "a.jsonl"
    a.write_text(
        "\n\n".join(_json.dumps({"id": i, "text": f"t{i}", "score": i})
                    for i in range(5)) + "\n"
    )
    sa = sniff_jsonl(spark, str(a))
    assert [(f.name, f.dataType.simpleString()) for f in sa.fields] == [
        ("id", "bigint"), ("score", "bigint"), ("text", "string"),
    ]
    blank = tmp_path / "blank.jsonl"
    blank.write_text("\n  \n")
    assert sniff_jsonl(spark, str(blank)).fields == []


def test_jsonl_failfast_on_corrupt_line(spark, tmp_path):
    import pytest as _p

    from d6tstack_spark.sources.jsonl import read_jsonl_stacked

    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"id": 1}\n{not json}\n{"id": 2}\n')
    df = read_jsonl_stacked(spark, [str(bad)], mode="FAILFAST")
    with _p.raises(Exception, match="Malformed|FAILFAST"):
        df.collect()
    # permissive default: corrupt line becomes a null row, scan survives
    ok = read_jsonl_stacked(spark, [str(bad)])
    assert ok.count() == 3


def test_helpers_version_compare_and_tofront(spark):
    from d6tstack_spark.functions.helpers import (
        columns_tofront,
        compare_versions,
        list_tofront,
    )

    assert compare_versions("0.19.2", "0.20.0") == -1
    assert compare_versions("1.0", "1.0.0") == 0
    assert compare_versions("1.10", "1.9") == 1
    assert compare_versions("2.0.rc", "2.0") == 0  # no digits → 0 → trims

    assert list_tofront(["a", "b", "c"], "c") == ["c", "a", "b"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        list_tofront(["a", "b"], "z")

    df = spark.createDataFrame([(1, "x", "f1")], "a int, b string, _filename string")
    assert columns_tofront(df).columns == ["_filename", "a", "b"]
