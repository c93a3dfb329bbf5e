"""Watermark state + dependency gates (SURVEY.md §2.5 A1/A2, §2.4 J4).

The reference keeps two Postgres tables —
``provider_to_s3_import_status`` (keyed by block_height) and
``s3_to_db_import_status`` (keyed by file_modified_date) — and every
pipeline reads ``coalesce(max(wm), default)`` before running and
upserts a new row after (provider_to_s3_import_status_dao.py:38-69,
s3_to_db_import_status_dao.py:40-79).

This module keeps each ledger as driver-side parquet objects under one
directory, through the ``sources/objectstore.py`` seam (Hadoop FS, so
``file://``, ``hdfs://`` and ``s3a://`` alike). Every value is an
integer. Neither a read nor an upsert runs a Spark job:

- At rest a ledger is one object, ``{N:020d}.parquet``: version N,
  every ``table``, ``<wm_col>``, ``created_at`` row.
- A read takes the rows of every parquet object directly under the
  directory (one listing and one get at rest); a torn put does not
  parse and holds none. The rule also reads the earlier layouts, one
  ``{table}.{value}.{uuid}.parquet`` per upsert or Spark's ``part-*``.
- An upsert commits version N+1 by create-if-absent, then deletes the
  objects it read, as the merge sink commits its manifest. A crash
  leaves the old rows or the new ones; the next upsert folds the rest.

The directory stays a plain parquet dataset:
``spark.read.schema(store.schema).parquet(store.path)`` reads old and
new objects alike. Swap the store for a JDBC table in production by
implementing the same methods.
"""

from __future__ import annotations

import io
import os
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from cardano_spark.sources.objectstore import ObjectStore

#: the reference's default start block when no watermark exists
#: (cardano_blocks_to_s3_pipeline.py:48; NB the original has an
#: operator-precedence bug `wm+1 or DEFAULT` — we implement the intent)
DEFAULT_START_BLOCK = 11_292_700


class ParquetWatermarkStore:
    """One integer watermark ledger (mirrors one status table). Single
    writer, as for ``ParquetMergeSink``: where exclusive create is
    atomic (HDFS) the loser of a race for a version raises, but a writer
    that reads another's version mid-put takes it for torn and deletes it."""

    def __init__(self, spark: SparkSession, path: str, wm_col: str):
        self.path = path
        self.wm_col = wm_col
        self.schema = T.StructType(
            [
                T.StructField("table", T.StringType(), False),
                T.StructField(wm_col, T.LongType(), False),
                T.StructField("created_at", T.TimestampType(), False),
            ]
        )
        self._arrow_schema = to_arrow_schema(self.schema)
        uri = path if "://" in path else "file://" + os.path.abspath(path)
        self._store = ObjectStore(spark, uri)

    def _read(self, columns: list[str]) -> tuple[list[str], pa.Table]:
        """The ledger's object names and ``columns`` of their rows; a
        torn put does not parse and holds none."""
        listed = self._store.list_names()
        names = [n for n in listed if n.endswith(".parquet") and n[0] not in "_."]
        schema = pa.schema([self._arrow_schema.field(c) for c in columns])
        parts = [schema.empty_table()]
        for name in names:
            try:
                part = pq.read_table(io.BytesIO(self._store.get(name)), columns=columns)
            except pa.ArrowInvalid:
                continue
            parts.append(part.cast(schema))
        return names, pa.concat_tables(parts)

    def read_values(self, table: str) -> set[int]:
        """Every value upserted for ``table`` (E2's loaded batch keys)."""
        _, rows = self._read(["table", self.wm_col])
        return set(rows.filter(pc.field("table") == table)[self.wm_col].to_pylist())

    def read_latest(self, table: str) -> int | None:
        """``SELECT max(wm) WHERE table=:t`` (A1/A2)."""
        return max(self.read_values(table), default=None)

    def upsert(self, table: str, *values: int) -> None:
        """Record one status row per value (K5) in one commit: the next
        version, keeping the first ``created_at`` per key, then delete
        the objects it replaces. A replay whose values are all present
        on a one-object ledger commits nothing."""
        names, rows = self._read(self._arrow_schema.names)
        have = rows.filter(pc.field("table") == table)[self.wm_col].to_pylist()
        if len(names) == 1 and set(have).issuperset(values):
            return
        now = datetime.now(timezone.utc)
        new = pa.Table.from_pylist(
            [{"table": table, self.wm_col: v, "created_at": now} for v in values],
            schema=self._arrow_schema,
        )
        snapshot = (
            pa.concat_tables([rows, new])
            .group_by(["table", self.wm_col], use_threads=False)
            .aggregate([("created_at", "min")])
            .select(["table", self.wm_col, "created_at_min"])
            .rename_columns(self._arrow_schema.names)
            .cast(self._arrow_schema)
        )
        buf = io.BytesIO()
        pq.write_table(snapshot, buf)
        stems = [name.removesuffix(".parquet") for name in names]
        version = 1 + max((int(s) for s in stems if s.isdigit()), default=-1)
        self._store.put_if_absent(f"{version:020d}.parquet", buf.getvalue())
        for name in names:
            self._store.delete(name)


def provider_to_s3_store(spark: SparkSession, root: str) -> ParquetWatermarkStore:
    return ParquetWatermarkStore(
        spark, os.path.join(root, "provider_to_s3_import_status"), "block_height"
    )


def s3_to_db_store(spark: SparkSession, root: str) -> ParquetWatermarkStore:
    """E2's ledger: the batch keys it has loaded, not the file mtimes
    of the reference's ``s3_to_db_import_status``. A new directory, so
    an mtime ledger of the earlier E2 under that name is ignored and
    its batches load once more through the idempotent merge."""
    return ParquetWatermarkStore(
        spark, os.path.join(root, "s3_to_db_loaded_batches"), "batch_key"
    )


def next_block_window(
    latest: int | None, batch: int, default_start: int = DEFAULT_START_BLOCK
) -> tuple[int, int]:
    """start = wm+1 (or default), end = start+batch-1 (E1 step 2,
    cardano_blocks_to_s3_pipeline.py:47-51)."""
    start = default_start if latest is None else latest + 1
    return start, start + batch - 1


def dependency_gate(child_wm: int | None, parent_wm: int | None) -> tuple[int, int] | None:
    """Two-watermark gate (J4): child pipeline may process
    (child_wm+1 .. parent_wm]; no-op when child has caught up
    (cardano_transactions_to_s3_pipeline.py:58-79)."""
    if parent_wm is None:
        return None
    start = DEFAULT_START_BLOCK if child_wm is None else child_wm + 1
    if start > parent_wm:
        return None
    return start, parent_wm
