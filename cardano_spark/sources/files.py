"""Raw-zone readers (SURVEY.md §2.1 S5-S8, §2.3 P3).

The reference lists S3 objects newer than an mtime watermark
(src/file_explorer/s3_file_explorer.py:31-51). Here E2 names the
batch directories it loads by key (``pipelines/cardano.py``), so a
zone read is one schema'd scan of a path or a Hadoop glob such as
``raw/{1500,1750}``: the listing and the download stay inside the
data source, and no mtime is read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_json_zone(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Schema'd JSON scan of a raw zone path or glob: the
    get_*_from_s3 readers (S5-S8) as one declarative read, no
    per-file driver loop."""
    return spark.read.schema(schema).json(path)


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
