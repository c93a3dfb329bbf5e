"""Partition-parallel HTTP fetch-map (SURVEY.md §2.1 S1-S4, §2.12 R2/R3).

The reference fetches one block / tx per ``await`` in a serial driver
loop — its throughput is bounded by API latency (SURVEY §6 "extraction
rate bound"). Here the id column is distributed and each partition
fetches its ids concurrently-by-partition: N partitions = N in-flight
requests, rate-limited per partition, with the reference's exponential
backoff (tries=5, base delay 0.1s, x1.5; get_block_from_s3.py:22-28).

The transport is injectable (``fetch: url -> bytes``) so tests run
against fixtures and production plugs urllib/requests; the engine
never hard-codes an endpoint.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class HttpFetchError(RuntimeError):
    """Non-200 (or transport-level) failure after all retries — the
    reference raises on any non-200 with no partial results (R3,
    get_block.py:37-38)."""


def default_transport(url: str) -> bytes:
    import urllib.request

    with urllib.request.urlopen(url, timeout=30) as resp:  # noqa: S310
        if resp.status != 200:
            raise HttpFetchError(f"{resp.status} for {url}")
        return resp.read()


def with_retry(
    fetch: Callable[[str], bytes],
    tries: int = 5,
    base_delay: float = 0.1,
    backoff: float = 1.5,
) -> Callable[[str], bytes]:
    """R2: exponential backoff, reraise after the last attempt."""

    def wrapped(url: str) -> bytes:
        delay = base_delay
        for attempt in range(tries):
            try:
                return fetch(url)
            except Exception:  # noqa: BLE001
                if attempt == tries - 1:
                    raise
                time.sleep(delay)
                delay *= backoff
        raise HttpFetchError(url)  # unreachable

    return wrapped


def fetch_json_map(
    ids: DataFrame,
    id_col: str,
    url_for: Callable[[str], str],
    out_schema: T.StructType,
    transport: Callable[[str], bytes] | None = None,
    requests_per_second: float | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """For each id, GET ``url_for(id)`` and parse the JSON object into
    ``out_schema``. Returns a DataFrame of the parsed payloads.

    Scale: ``num_partitions`` bounds global request concurrency (one
    in-flight request per partition) by hash-repartitioning ids that
    come from a table; an id range sized by :func:`heights_range`
    needs no repartition. ``requests_per_second`` is a
    PER-PARTITION rate cap, so the aggregate rate is
    partitions x rps — size both to the provider's quota. Fetch
    happens in ``mapInPandas`` (executor-side, Arrow-batched); a fetch
    that still fails after retries raises and fails the task, which
    Spark retries (R1 note: the downstream merge sink is idempotent,
    so task retries are safe).
    """
    transport = with_retry(transport or default_transport)
    field_names = [f.name for f in out_schema.fields]
    min_interval = 1.0 / requests_per_second if requests_per_second else 0.0

    if num_partitions:
        ids = ids.repartition(num_partitions, id_col)

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last = 0.0
        for pdf in batches:
            rows = []
            for value in pdf[id_col].astype(str):
                if min_interval:
                    wait = min_interval - (time.monotonic() - last)
                    if wait > 0:
                        time.sleep(wait)
                    last = time.monotonic()
                payload = json.loads(transport(url_for(value)))
                if isinstance(payload, list):
                    rows.extend(payload)
                else:
                    rows.append(payload)
            yield pd.DataFrame(
                {name: [r.get(name) for r in rows] for name in field_names}
            )

    return ids.select(F.col(id_col)).mapInPandas(fetch_partition, schema=out_schema)


def heights_range(
    spark, start: int, end: int, id_col: str = "height", num_partitions: int | None = None
) -> DataFrame:
    """Distributed id range for block windows — replaces the
    reference's driver-side ``range(start, end+1)`` loop
    (cardano_blocks_to_s3_pipeline.py:58). ``num_partitions`` splits
    the range into that many contiguous slices, one in-flight request
    each, so the fetch needs no shuffle (and no extra Spark job) to
    spread its ids."""
    return spark.range(start, end + 1, numPartitions=num_partitions).select(
        F.col("id").alias(id_col)
    )
