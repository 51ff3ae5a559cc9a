"""JSONL (newline-delimited JSON) ingest with schema-drift alignment —
the CSV stacking pipeline's twin for the format LLM document corpora
actually ship in.

Mirrors the reference's two-phase discipline (sniff a bounded sample,
then ONE typed distributed read — combine_csv.py:108-179 reads
``nrows_preview`` rows per file to decide schema and never re-infers):

- :func:`sniff_jsonl` infers one file's schema from its first
  ``sample_lines`` lines only (never a full-file inference pass);
- :func:`read_jsonl_stacked` unifies the per-file schemas (absent field →
  null column, conflicting primitive types widened — the reference's
  align-and-reindex semantics) and issues a single ``spark.read.schema(
  unified).json(paths)`` scan with filename provenance. The data pass is
  JVM-only: one typed scan, no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T


def sniff_jsonl(spark: SparkSession, path: str, sample_lines: int = 1000) -> T.StructType:
    """Schema of one JSONL file from a bounded head sample (metadata-sized
    work: ``sample_lines`` lines, not the file)."""
    lines = (
        spark.read.text(path)
        .limit(sample_lines)
        .filter(F.length(F.trim("value")) > 0)
    )
    # the JVM JSON reader infers straight from the Dataset[String]: no
    # driver round trip, no Python RDD (which would start a second
    # Python worker daemon next to the Arrow UDF one)
    jlines = getattr(lines._jdf, "as")(
        spark._jvm.org.apache.spark.sql.Encoders.STRING()
    )
    jschema = spark._jsparkSession.read().json(jlines).schema()
    return T._parse_datatype_json_string(jschema.json())


# primitive widening lattice for drifting fields: files that disagree on a
# field's type still stack (long+double reads as double; anything else
# falls back to string, which loses no bytes)
_NUMERIC_ORDER = ["bigint", "double"]


def _widen(a: T.DataType, b: T.DataType) -> T.DataType:
    if a == b:
        return a
    sa, sb = a.simpleString(), b.simpleString()
    if sa in _NUMERIC_ORDER and sb in _NUMERIC_ORDER:
        return T.DoubleType()
    return T.StringType()


def unify_schemas(schemas: list[T.StructType]) -> T.StructType:
    """Union of fields in first-seen order; conflicting types widened."""
    fields: dict[str, T.DataType] = {}
    for sch in schemas:
        for f in sch.fields:
            if f.name in fields:
                fields[f.name] = _widen(fields[f.name], f.dataType)
            else:
                fields[f.name] = f.dataType
    return T.StructType([T.StructField(n, t, True) for n, t in fields.items()])


def read_jsonl_stacked(
    spark: SparkSession,
    paths: list[str],
    add_filename: bool = True,
    columns_select: list[str] | None = None,
    sample_lines: int = 1000,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """Stack drifted JSONL files into one aligned DataFrame.

    Per-file schemas come from bounded samples; the distributed read uses
    the unified schema so a field absent from one file is null there (the
    reference's align-to-superset reindex). ``mode`` passes through to the
    JSON parser (``FAILFAST`` turns corrupt lines into errors instead of
    nulls)."""
    if not paths:
        raise ValueError("read_jsonl_stacked needs at least one path")
    unified = unify_schemas([sniff_jsonl(spark, p, sample_lines) for p in paths])
    if not unified.fields:
        raise ValueError("no fields found in any sample — empty inputs?")
    df = spark.read.schema(unified).option("mode", mode).json(list(paths))
    if add_filename:
        df = df.withColumn(
            "filename",
            F.element_at(F.split(F.input_file_name(), "/"), -1),
        )
    if columns_select:
        keep = [c for c in columns_select if c in df.columns]
        df = df.select(*keep, *(["filename"] if add_filename else []))
    return df
