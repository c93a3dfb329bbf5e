"""Watermark state + dependency gates (SURVEY.md §2.5 A1/A2, §2.4 J4).

The reference keeps two Postgres tables —
``provider_to_s3_import_status`` (keyed by block_height) and
``s3_to_db_import_status`` (keyed by file_modified_date) — and every
pipeline reads ``coalesce(max(wm), default)`` before running and
upserts a new row after (provider_to_s3_import_status_dao.py:38-69,
s3_to_db_import_status_dao.py:40-79).

This module keeps each ledger as small driver-side objects under one
directory, through the ``sources/objectstore.py`` seam (Hadoop FS, so
``file://``, ``hdfs://`` and ``s3a://`` alike). Neither a read nor an
upsert runs a Spark job:

- An upsert writes one new one-row parquet object with the columns
  ``table``, ``<wm_col>`` and ``created_at``, named
  ``{table}.{value}.{uuid}.parquet``. The value is the decimal integer
  or, for timestamps, ``YYYYMMDDTHHMMSSffffff`` in UTC; the uuid keeps
  concurrent appends from colliding. The ledger grows by one object
  per pipeline run.
- A read is one listing plus a max over the values parsed from the
  object names of that table; it reads no object body. Appends are
  harmless to replay because the read takes the max (the PK
  (table, wm) of the reference).
- Objects whose name carries no value are ledgers written by the
  earlier Spark writer (``part-*.parquet``). Their bodies are read
  once per store instance, so existing ledgers keep working.

The directory stays a plain parquet dataset:
``spark.read.schema(store.schema).parquet(store.path)`` reads old and
new objects alike. Swap the store for a JDBC table in production by
implementing the same three methods.
"""

from __future__ import annotations

import io
import os
import uuid
from datetime import datetime, timezone
from typing import Generic, TypeVar

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from cardano_spark.sources.objectstore import ObjectStore

W = TypeVar("W", int, datetime)

#: the reference's default start block when no watermark exists
#: (cardano_blocks_to_s3_pipeline.py:48; NB the original has an
#: operator-precedence bug `wm+1 or DEFAULT` — we implement the intent)
DEFAULT_START_BLOCK = 11_292_700

_TS_NAME = "%Y%m%dT%H%M%S%f"
_UTC_US = pa.timestamp("us", tz="UTC")


def _naive_utc(ts: datetime) -> datetime:
    if ts.tzinfo is None:
        return ts
    return ts.astimezone(timezone.utc).replace(tzinfo=None)


class ParquetWatermarkStore(Generic[W]):
    """One watermark ledger (mirrors one of the two status tables)."""

    def __init__(self, spark: SparkSession, path: str, wm_col: str, wm_type: T.DataType):
        self.spark = spark
        self.path = path
        self.wm_col = wm_col
        self.schema = T.StructType(
            [
                T.StructField("table", T.StringType(), False),
                T.StructField(wm_col, wm_type, False),
                T.StructField("created_at", T.TimestampType(), False),
            ]
        )
        self._is_ts = isinstance(wm_type, T.TimestampType)
        self._arrow_schema = pa.schema(
            [
                pa.field("table", pa.string(), False),
                pa.field(wm_col, _UTC_US if self._is_ts else pa.int64(), False),
                pa.field("created_at", _UTC_US, False),
            ]
        )
        uri = path if "://" in path else "file://" + os.path.abspath(path)
        self._store = ObjectStore(spark, uri)
        #: legacy object name -> its (table, value) rows
        self._legacy: dict[str, list[tuple[str, W]]] = {}

    def _encode(self, value: W) -> str:
        return _naive_utc(value).strftime(_TS_NAME) if self._is_ts else str(int(value))

    def _rows(self, name: str) -> list[tuple[str, W]]:
        """The (table, value) rows one ledger object holds: parsed from
        its name, or read once from a legacy object's body."""
        if name.startswith(("_", ".")) or not name.endswith(".parquet"):
            return []
        parts = name[: -len(".parquet")].rsplit(".", 2)
        if len(parts) == 3 and len(parts[2]) == 32:
            table, value = parts[0], parts[1]
            if self._is_ts:
                return [(table, datetime.strptime(value, _TS_NAME))]
            return [(table, int(value))]
        if name not in self._legacy:
            body = pq.read_table(
                io.BytesIO(self._store.get(name)),
                columns=["table", self.wm_col],
                coerce_int96_timestamp_unit="us",
            ).to_pylist()
            self._legacy[name] = [
                (r["table"], _naive_utc(r[self.wm_col]) if self._is_ts else r[self.wm_col])
                for r in body
            ]
        return self._legacy[name]

    def read_latest(self, table: str) -> W | None:
        """``SELECT max(wm) WHERE table=:t`` (A1/A2): one listing, no
        Spark job. Timestamps come back as naive UTC."""
        values = [
            v
            for name in self._store.list_names()
            for t, v in self._rows(name)
            if t == table
        ]
        return max(values, default=None)

    def upsert(self, table: str, value: W) -> None:
        """Append one status row (K5) as a new object. PK-duplicate
        appends are harmless because reads take max(). Timestamps are
        written UTC-adjusted, so Spark reads them as ``TimestampType``."""
        now = datetime.now(timezone.utc)
        wm = _naive_utc(value).replace(tzinfo=timezone.utc) if self._is_ts else value
        row = pa.Table.from_pylist(
            [{"table": table, self.wm_col: wm, "created_at": now}],
            schema=self._arrow_schema,
        )
        buf = io.BytesIO()
        pq.write_table(row, buf)
        name = f"{table}.{self._encode(value)}.{uuid.uuid4().hex}.parquet"
        self._store.put(name, buf.getvalue())


def provider_to_s3_store(spark: SparkSession, root: str) -> ParquetWatermarkStore[int]:
    return ParquetWatermarkStore(
        spark, os.path.join(root, "provider_to_s3_import_status"),
        "block_height", T.LongType(),
    )


def s3_to_db_store(spark: SparkSession, root: str) -> ParquetWatermarkStore[datetime]:
    return ParquetWatermarkStore(
        spark, os.path.join(root, "s3_to_db_import_status"),
        "file_modified_date", T.TimestampType(),
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
