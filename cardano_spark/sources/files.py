"""Incremental file-zone readers (SURVEY.md §2.1 S5-S11, §2.3 P3).

The reference lists S3 objects page by page and keeps only those with
``modified_date > watermark`` (src/file_explorer/s3_file_explorer.py:31-51).
Spark's file sources have that filter built in (``modifiedAfter``), so
the incremental scan is one reader option — the listing, the filter,
and the download all stay inside the data source. ``_metadata`` gives
the per-file modification time back for the new-watermark aggregate
(A3) without a second listing.

Boundary rule. ``modifiedAfter`` is passed with microseconds and keeps
files strictly newer than the watermark, so a file whose mtime equals
the watermark is never read again. That is safe only if every file
with that mtime was in the scan that set the watermark. A file can
still land in the very millisecond the scan lists (mtimes have
millisecond resolution) and be missed, so the new watermark only
advances to files strictly older than that millisecond
(:func:`scan_cutoff`). A file from the listing millisecond is read
again by the next scan, which the idempotent merge makes harmless.
Writers that overlap the scan (a committer renaming files written
earlier) are not covered: the zone has one writer at a time.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _fmt(ts: datetime) -> str:
    # Spark's modifiedAfter, in the UTC session tz; without the fraction
    # the cut falls back to the whole second and re-reads its files
    return ts.strftime("%Y-%m-%dT%H:%M:%S.%f")


def scan_cutoff() -> datetime:
    """Start of the current millisecond, naive UTC. Take it just
    before a zone scan lists; only files older than it may advance the
    watermark (the boundary rule above)."""
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    return now - timedelta(microseconds=now.microsecond % 1000)


def read_json_zone(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    modified_after: datetime | None = None,
) -> DataFrame:
    """Schema'd JSON scan of a raw zone, optionally incremental.
    Equivalent of get_*_from_s3 (S5-S8) + the watermark listing (S9):
    one declarative read, no per-file driver loop."""
    reader = spark.read.schema(schema)
    if modified_after is not None:
        reader = reader.option("modifiedAfter", _fmt(modified_after))
    df = reader.json(path)
    return df.select("*", F.col("_metadata.file_modification_time").alias("_modified"))


def cast_to_schema(
    df: DataFrame,
    target: T.StructType,
    using: dict[str, Column] | None = None,
) -> DataFrame:
    """Cast-on-read schema evolution: project any raw-zone vintage
    onto the DECLARED StructType (schemas.py stays the single source
    of truth — the Spark twin of the reference's Alembic migration
    chain, database_management/versions/).

    Policy (documented in README "Schema evolution"):
    - ``mergeSchema`` stays OFF. Schema-on-read inference across
      mixed-vintage files is nondeterministic under type conflicts;
      each vintage is read with its own explicit schema and projected
      here.
    - Additive columns: fields absent from ``df`` materialize as
      typed NULLs (the parquet equivalent of ``ADD COLUMN``).
    - Dropped/renamed-away columns: anything not in ``target`` is
      discarded.
    - Type migrations a plain cast can't express go in ``using`` —
      e.g. the reference's int→timestamp migration
      (versions/b0673669b6c8_*.py:21-31,
      ``postgresql_using="to_timestamp(block_time)"``) becomes
      ``{"block_time": F.timestamp_seconds(F.col("block_time"))}``.

    Pure projection — no shuffle, fully codegen'd, and column pruning
    still reaches the scan because the select is declarative.
    """
    cols = []
    for field in target.fields:
        if using is not None and field.name in using:
            cols.append(using[field.name].cast(field.dataType).alias(field.name))
        elif field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def max_modified(df: DataFrame) -> datetime | None:
    """New watermark = max file mtime in the batch (A3,
    s3_to_db_cardano_blocks_pipeline.py:84-87). Filter ``df`` to
    ``_modified < scan_cutoff()`` first (the boundary rule above)."""
    row = df.agg(F.max("_modified").alias("m")).collect()[0]
    return row["m"]
