"""Schema-drift-aware encode: the reference's schema-unifying ingest
(d6tstack combine_csv.py:1-60 sniff-then-align pipeline, convert_xls.py
multi-file consensus) re-expressed at the codec layer for parquet inputs.

The scan-fused :func:`~d6tstack_spark.operators.encode.encode_parquet_files`
encodes under the union of its input files' schemas, null-padding a
column a file lacks and refusing a column typed differently across files.
Real ingest corpora drift: a column appears in newer files, disappears
from older ones, or files arrive with columns reordered. This module

- sniffs per-file schemas from parquet FOOTERS only (no data read;
  driver-side for small file lists, a ``map_slices`` Spark job above a
  threshold so a 10^6-file listing never serializes through one loop),
- reports drift per file against the consensus (the reference's
  sniff_columns_perfile shape: added / missing columns),
- and encodes every unified input through that scan-fused path: a
  drifted file set gets the union manifest, with all-null blocks for
  the columns a file lacks; ``on_drift="error"`` refuses drift with
  the report instead.

Decode needs nothing special: the union manifest describes every column,
and null runs RLE-compress to almost nothing.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from d6tstack_spark.operators.encode import map_slices

# above this many files the footer sniff runs as a Spark job instead of a
# driver loop — footers are ~KB, but 10^6 sequential opens is a driver stall
_SNIFF_DRIVER_MAX_FILES = 256


def sniff_parquet_schemas(spark, paths: list[str]) -> dict[str, tuple]:
    """Per-file parquet schema from footers only: path → tuple of
    ``(column_name, arrow_type_str)`` pairs in file order. Small lists
    sniff on the driver; large ones fan out as a Spark job (one footer
    read per task, only the tiny schema tuples return)."""

    def _one(p: str) -> tuple:
        import pyarrow.parquet as pq

        sch = pq.read_schema(p)
        return tuple((f.name, str(f.type)) for f in sch)

    if len(paths) <= _SNIFF_DRIVER_MAX_FILES:
        return {p: _one(p) for p in paths}

    def sniff(batches):
        import pyarrow as pa

        for b in batches:
            ps = b.column("path").to_pylist()
            yield pa.RecordBatch.from_pydict(
                {"path": ps, "fields": [json.dumps(_one(p)) for p in ps]}
            )

    rows = map_slices(
        spark, [(p,) for p in paths], min(len(paths), 512), sniff,
        "path string, fields string", "path string",
    ).collect()
    return {r["path"]: tuple(map(tuple, json.loads(r["fields"]))) for r in rows}


def parquet_drift_report(spark, paths: list[str]) -> dict:
    """Drift summary across files (the multi-file consensus check):
    ``uniform`` is True when every file carries the same column→type
    mapping; ``union``/``common`` are name lists; ``per_file`` maps each
    drifted path to its added / missing names vs the union; ``conflicts``
    lists columns whose TYPE differs between files (not unifiable by
    null-padding — these need an explicit cast or rename upstream)."""
    schemas = sniff_parquet_schemas(spark, paths)
    as_maps = {p: dict(s) for p, s in schemas.items()}
    union: dict[str, str] = {}
    conflicts: dict[str, set] = {}
    for p, m in as_maps.items():
        for name, typ in m.items():
            if name in union and union[name] != typ:
                conflicts.setdefault(name, {union[name]}).add(typ)
            union.setdefault(name, typ)
    common = [
        n for n in union if all(n in m for m in as_maps.values())
    ]
    uniform = len(set(schemas.values())) == 1
    # O(files × cols): per-file membership checks against the precomputed
    # non-common set, not a rescan of every other file's schema
    non_common = set(union) - set(common)
    per_file = {
        p: {
            "missing": [n for n in union if n not in m],
            "added": [n for n in m if n in non_common],
        }
        for p, m in as_maps.items()
        if len(m) != len(union) or any(n not in m for n in union)
    }
    return {
        "uniform": uniform,
        "union": list(union),
        "common": common,
        "conflicts": {k: sorted(v) for k, v in conflicts.items()},
        "per_file": per_file,
    }


def encode_parquet_files_drift(
    spark,
    paths: list[str] | str,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    on_drift: str = "unify",
    codec_overrides: dict | None = None,
    **kwargs,
) -> tuple[DataFrame, dict]:
    """Drift-tolerant encode entry point: checks the files' footers, then
    runs the scan-fused :func:`encode_parquet_files` (footer-planned
    splits, no shuffle, no JVM↔Python payload copy).

    - Every file shares one schema → the files encode as they are.
    - Schemas drift and ``on_drift="unify"`` → the same encode, under
      the union manifest: a column a file lacks decodes as nulls for that
      file's rows — d6tstack's align-and-stack semantics
      (combine_csv.py `combine_preview`/`run` alignment), bit-exact.
    - ``on_drift="error"`` → raise with the per-file drift report (the
      reference's strict consensus mode, sniffer hard error).

    Type CONFLICTS (same column name, different parquet type) always
    raise — null-padding cannot unify them; cast or rename upstream.

    ``kwargs`` pass through to :func:`encode_parquet_files` (unknown keys
    raise TypeError, same as calling it directly)."""
    from d6tstack_spark.operators.encode import encode_parquet_files

    if on_drift not in ("unify", "error"):  # validated even when inputs
        # happen to be uniform today — a typo'd mode must not lie dormant
        # until the first drifted file arrives months into a pipeline
        raise ValueError(f"on_drift must be 'unify' or 'error': {on_drift!r}")
    if isinstance(paths, str):
        paths = [paths]
    report = parquet_drift_report(spark, paths)
    if report["conflicts"]:
        raise ValueError(
            "type conflicts across input files cannot be unified by "
            f"null-padding: {report['conflicts']} — cast or rename "
            "upstream (d6tstack columns_select/rename equivalent)"
        )
    if not report["uniform"] and on_drift == "error":
        raise ValueError(
            f"input schemas drift across files: {report['per_file']}"
        )
    return encode_parquet_files(
        spark, paths, order_cols=order_cols,
        codec_overrides=codec_overrides, **kwargs,
    )
