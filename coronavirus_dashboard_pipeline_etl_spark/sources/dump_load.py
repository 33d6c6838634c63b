"""S15 — table dump / load round-trip (SURVEY.md §2.1:
``db_dumper/dumper.py:82-124``, ``db_loader/loader.py:67-171``).

The reference dumps each Postgres table to one gzip-JSON blob —
``{"primary_keys": [...], "columns": {name: dtype}, "table_name": ...,
"data": [row dicts]}`` — then reloads it through a temp table and an
``ON CONFLICT (pks) DO UPDATE ... WHERE any-non-pk-differs`` upsert.

Spark-first re-expression: the ``data`` array is the part that cannot
be a single driver-side blob at 100 TB, so the dump is a DISTRIBUTED
gzip JSON-lines dataset (one part per partition, executors write in
parallel) plus a tiny ``manifest.json`` carrying exactly the reference
envelope's metadata (primary keys, column name->type, table name).
The manifest goes through Spark's Hadoop FileSystem API, NOT local
``open()``, so the format works on any storage a real deployment dumps
to (s3a://, hdfs://, abfss://) — same as the data files. Timestamps
serialise as ISO-8601 strings in the JSON — the loader restores them
from the manifest's recorded schema, mirroring the reference's
``datetime.fromisoformat`` pass (``db_loader/loader.py:112-120``).

The upsert half (``merge_upsert``) is the set-semantics equivalent of
the reference's temp-table + ON CONFLICT statement: incoming rows win
on primary-key conflict, unmatched existing rows survive. Expressed as
anti-join + union — ONE shuffle of each side on the pk, no windows; at
100 TB both sides hash-exchange once and stream through. (The
reference's ``WHERE col <> EXCLUDED.col`` guard only suppresses
no-op row rewrites inside Postgres — the merged RESULT is identical,
so the set form is the faithful translation.)
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..store import _fs_read_text, _fs_write_text, join as _join

__all__ = ["dump_table", "load_dump", "merge_upsert"]

_MANIFEST = "manifest.json"
_DATA_DIR = "data"
# Spark's default JSON timestamp formats keep only milliseconds; pin
# full-microsecond ISO-8601 on BOTH timestamp flavours (timestampFormat
# covers TIMESTAMP, timestampNTZFormat covers TIMESTAMP_NTZ — they are
# separate reader/writer options) so the round-trip is exact.
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
_TS_NTZ_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def dump_table(
    df: DataFrame,
    path: str,
    table_name: str,
    primary_keys: Sequence[str],
) -> None:
    """Dump ``df`` to ``path`` as the engine's migration format:
    ``path/data/`` gzip JSON-lines (distributed write) +
    ``path/manifest.json`` (primary keys, column->Spark-DDL type map,
    table name — the reference envelope minus the inlined data array).
    """
    missing = [k for k in primary_keys if k not in df.columns]
    if missing:
        raise ValueError(f"dump_table: primary keys not in frame: {missing}")
    (
        df.write.mode("overwrite")
        .option("compression", "gzip")
        .option("timestampFormat", _TS_FMT)
        .option("timestampNTZFormat", _TS_NTZ_FMT)
        .json(_join(path, _DATA_DIR))
    )
    manifest = {
        "table_name": table_name,
        "primary_keys": list(primary_keys),
        # Spark DDL strings round-trip through the `schema` argument of
        # spark.read
        "columns": {f.name: f.dataType.simpleString() for f in df.schema.fields},
    }
    _fs_write_text(
        df.sparkSession, _join(path, _MANIFEST), json.dumps(manifest, indent=1)
    )


def read_manifest(spark: SparkSession, path: str) -> dict:
    return json.loads(_fs_read_text(spark, _join(path, _MANIFEST)))


def load_dump(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Reload a ``dump_table`` directory: distributed JSON-lines scan
    with the manifest's recorded schema (so timestamps/dates parse back
    from their ISO strings and numeric types keep their exact Spark
    type — the reference's fromisoformat + typed-temp-table step).
    Returns ``(frame, manifest)``."""
    manifest = read_manifest(spark, path)
    # the reader accepts a DDL schema string directly — no private parser
    ddl = ", ".join(
        f"`{name}` {dtype}" for name, dtype in manifest["columns"].items()
    )
    df = (
        spark.read.schema(ddl)
        .option("timestampFormat", _TS_FMT)
        .option("timestampNTZFormat", _TS_NTZ_FMT)
        .json(_join(path, _DATA_DIR))
    )
    # JSON drops all-null fields per record; the explicit schema restores
    # them as typed nulls, so select in manifest order for a stable shape
    return df.select(*manifest["columns"]), manifest


def merge_upsert(
    existing: DataFrame,
    incoming: DataFrame,
    primary_keys: Sequence[str],
) -> DataFrame:
    """``INSERT ... ON CONFLICT (pks) DO UPDATE`` as a set operation:
    incoming wins per primary key, existing rows with no incoming match
    survive. Columns must agree (unionByName).

    Incoming must be unique per pk (the reference's copy-to-temp-table
    has the same requirement — ON CONFLICT fires per input row); callers
    holding multi-versioned input dedup first (``dropDuplicates`` /
    ``latest_per_group``).
    """
    keys = list(primary_keys)
    kept = existing.join(incoming.select(*keys).distinct(), on=keys, how="left_anti")
    return kept.unionByName(incoming.select(*existing.columns))
