"""The catalog's metadata caches must be (path, mtime)-keyed so a
regenerated fixture of a different size in the same process never
serves a stale estimate (r11 verdict, What's wrong #4). Pure os.stat
logic — no Spark session needed."""

from __future__ import annotations

import os

from cardano_spark import catalog
from cardano_spark.catalog import (
    _MAX_SPLIT_BYTES,
    scan_partitions_estimate,
    table_bytes,
)


def _write(path: str, n_bytes: int, mtime: float) -> None:
    with open(path, "wb") as f:
        f.write(b"\0" * n_bytes)
    os.utime(path, (mtime, mtime))


def test_scan_partitions_estimate_refreshes_on_mtime(tmp_path):
    sf = str(tmp_path)
    p = os.path.join(sf, "lineitem.parquet")
    _write(p, 10, 1000.0)
    assert scan_partitions_estimate(sf, "lineitem") == 1
    # same path, bigger file, new mtime -> estimate must move
    _write(p, 3 * _MAX_SPLIT_BYTES, 2000.0)
    assert scan_partitions_estimate(sf, "lineitem") == 3


def test_table_bytes_refreshes_on_mtime(tmp_path):
    sf = str(tmp_path)
    p = os.path.join(sf, "orders.parquet")
    _write(p, 123, 1000.0)
    assert table_bytes(sf, "orders") == 123
    _write(p, 456, 2000.0)
    assert table_bytes(sf, "orders") == 456


def test_missing_path_returns_none(tmp_path):
    assert scan_partitions_estimate(str(tmp_path), "nation") is None
    assert table_bytes(str(tmp_path), "nation") is None


def test_regenerations_keep_one_entry_per_path(tmp_path):
    sf = str(tmp_path)
    p = os.path.join(sf, "part.parquet")
    for i in range(1, 6):
        _write(p, 100 * i, 1000.0 * i)
        assert table_bytes(sf, "part") == 100 * i
        assert scan_partitions_estimate(sf, "part") == 1
    assert [k for k in catalog._STAT_CACHE if k.startswith(sf)] == [p]
    # both functions share the entry, so the fresh stats reach either
    with open(p, "wb") as f:
        f.truncate(2 * _MAX_SPLIT_BYTES)  # sparse: no 256 MiB write
    os.utime(p, (9000.0, 9000.0))
    assert scan_partitions_estimate(sf, "part") == 2
    assert table_bytes(sf, "part") == 2 * _MAX_SPLIT_BYTES
    assert [k for k in catalog._STAT_CACHE if k.startswith(sf)] == [p]
