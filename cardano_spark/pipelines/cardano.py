"""The three pipeline stages of the reference, Spark-first
(SURVEY.md §3 E1-E3).

Zone layout mirrors the reference's S3 key scheme
(cardano/blocks/raw/{end_height}/..., .../transformed/{date}/...,
cardano_blocks_to_s3_pipeline.py:66) with parquet-friendly JSON files;
swap ``root`` for an s3a:// URI in production — every reader/writer
here goes through Hadoop FS.

Stage semantics preserved:
- E1 provider->raw: watermark window -> partition-parallel fetch ->
  raw JSON zone -> watermark upsert.
- E2 raw->table: the batch keys E1 recorded minus the keys already
  loaded -> one scan of exactly those directories -> transform ->
  idempotent merge -> one ledger object per loaded key; merge +
  ledger are crash-safe/replayable instead of transactional (D1
  makes replays no-ops). A caught-up stage runs no Spark job.
- E3 windowed orchestration with the J4 dependency gates.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cardano_spark import schemas
from cardano_spark.pipelines import transforms
from cardano_spark.sinks.merge import ParquetMergeSink
from cardano_spark.sources.files import read_json_zone
from cardano_spark.sources.http_fetch import fetch_json_map, heights_range
from cardano_spark.watermark import (
    dependency_gate,
    next_block_window,
    provider_to_s3_store,
    s3_to_db_store,
)


class CardanoLake:
    """All paths + stores for one deployment root."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.provider_wm = provider_to_s3_store(spark, os.path.join(root, "_state"))
        self.s3_db_wm = s3_to_db_store(spark, os.path.join(root, "_state"))
        #: per-table row counts observed during the last E2 load (A5)
        self.last_load_counts: dict[str, int] = {}
        self._sinks: dict[str, ParquetMergeSink] = {}

    def raw_zone(self, entity: str) -> str:
        return os.path.join(self.root, "cardano", entity, "raw")

    def table_path(self, table: str) -> str:
        return os.path.join(self.root, "tables", table)

    def sink(self, table: str) -> ParquetMergeSink:
        """The table's one sink on this lake. Every read and mutation
        rolls the table forward first, so a kept sink stays current
        without paying the constructor's roll-forward per call."""
        if table not in self._sinks:
            self._sinks[table] = ParquetMergeSink(
                self.spark,
                self.table_path(table),
                schemas.TARGET_SCHEMAS[table],
                schemas.PRIMARY_KEYS[table],
            )
        return self._sinks[table]


# --------------------------------------------------------------------------
# E1: provider -> raw zone
# --------------------------------------------------------------------------


def blocks_to_raw(
    lake: CardanoLake,
    transport: Callable[[str], bytes],
    base_url: str = "https://cardano-mainnet.example/api/v0",
    batch: int = 2000,
    fetch_partitions: int = 8,
) -> tuple[int, int] | None:
    """E1 for blocks: watermark window of ``batch`` heights (the
    reference's 2000-block files), fetch ``/blocks/{h}`` partition-
    parallel, land one raw JSON zone batch keyed by end height, then
    upsert the provider watermark (cardano_blocks_to_s3_pipeline.py:40-75)."""
    latest = lake.provider_wm.read_latest("cardano_blocks")
    start, end = next_block_window(latest, batch)
    heights = heights_range(lake.spark, start, end, num_partitions=fetch_partitions)
    raw = fetch_json_map(
        heights,
        "height",
        lambda h: f"{base_url}/blocks/{h}",
        schemas.RAW_BLOCK,
        transport=transport,
    )
    out = os.path.join(lake.raw_zone("blocks"), str(end))
    raw.write.mode("overwrite").json(out)
    lake.provider_wm.upsert("cardano_blocks", end)
    return start, end


def block_transactions_to_raw(
    lake: CardanoLake,
    transport: Callable[[str], bytes],
    base_url: str = "https://cardano-mainnet.example/api/v0",
    batch: int = 2000,
    fetch_partitions: int = 8,
) -> tuple[int, int] | None:
    """E1 for block->tx lists, gated on the blocks watermark (J4).
    The response is a bare JSON array of hashes; it's re-keyed to
    {block_height, tx_hash[]} like CardanoBlockTransactions.from_json
    (cardano_block_transactions.py:20-24)."""
    parent = lake.provider_wm.read_latest("cardano_blocks")
    child = lake.provider_wm.read_latest("cardano_block_transactions")
    window = dependency_gate(child, parent)
    if window is None:
        return None
    start, end = window[0], min(window[1], window[0] + batch - 1)

    def fetch_block_txs(url: str) -> bytes:
        # wrap the array payload into the keyed object
        import json as _json

        height = url.rsplit("/", 2)[-2]
        hashes = _json.loads(transport(url))
        return _json.dumps(
            [{"block_height": int(height), "tx_hash": hashes}]
        ).encode()

    heights = heights_range(lake.spark, start, end, num_partitions=fetch_partitions)
    raw = fetch_json_map(
        heights,
        "height",
        lambda h: f"{base_url}/blocks/{h}/txs",
        schemas.RAW_BLOCK_TRANSACTIONS,
        transport=fetch_block_txs,
    )
    out = os.path.join(lake.raw_zone("block_transactions"), str(end))
    raw.write.mode("overwrite").json(out)
    lake.provider_wm.upsert("cardano_block_transactions", end)
    return start, end


def transactions_to_raw(
    lake: CardanoLake,
    transport: Callable[[str], bytes],
    base_url: str = "https://cardano-mainnet.example/api/v0",
    start_block: int | None = None,
    end_block: int | None = None,
    fetch_partitions: int = 8,
) -> tuple[int, int] | None:
    """E3 step 1: tx hashes for a block window come from the loaded
    ``cardano_block_transactions`` table (S13) — exploded to one row
    per hash (J3 turns the reference's driver nested loop,
    cardano_transactions_to_s3_pipeline.py:104-107, into a
    partition-parallel fetch) — then ``/txs/{hash}`` is fetched."""
    from pyspark.sql import functions as F

    child = lake.provider_wm.read_latest("cardano_transactions")
    parent = lake.provider_wm.read_latest("cardano_block_transactions")
    if start_block is None or end_block is None:
        window = dependency_gate(child, parent)
        if window is None:
            return None
        start_block, end_block = window

    block_tx = lake.sink("cardano_block_transactions").read()
    hashes = (
        block_tx.filter(
            (F.col("block").cast("long") >= start_block)
            & (F.col("block").cast("long") <= end_block)
        )
        .select(F.explode("tx_hash").alias("tx"))
        .distinct()
    )
    raw = fetch_json_map(
        hashes,
        "tx",
        lambda h: f"{base_url}/txs/{h}",
        schemas.RAW_TRANSACTION,
        transport=transport,
        num_partitions=fetch_partitions,
    )
    out = os.path.join(lake.raw_zone("transactions"), str(end_block))
    raw.write.mode("overwrite").json(out)
    lake.provider_wm.upsert("cardano_transactions", end_block)
    return start_block, end_block


def tx_utxo_to_raw(
    lake: CardanoLake,
    transport: Callable[[str], bytes],
    base_url: str = "https://cardano-mainnet.example/api/v0",
    start_block: int | None = None,
    end_block: int | None = None,
    fetch_partitions: int = 8,
) -> tuple[int, int] | None:
    """E3 step 3: hashes from loaded ``cardano_transactions`` in the
    window (S12), fetch ``/txs/{hash}/utxos``
    (cardano_tx_utxo_to_s3_pipeline.py:58-118)."""
    from pyspark.sql import functions as F

    child = lake.provider_wm.read_latest("cardano_transactions_utxo")
    parent = lake.provider_wm.read_latest("cardano_transactions")
    if start_block is None or end_block is None:
        window = dependency_gate(child, parent)
        if window is None:
            return None
        start_block, end_block = window

    txs = lake.sink("cardano_transactions").read()
    hashes = (
        txs.filter(
            (F.col("block_height") >= start_block)
            & (F.col("block_height") <= end_block)
        )
        .select("hash")
        .distinct()
    )
    raw = fetch_json_map(
        hashes,
        "hash",
        lambda h: f"{base_url}/txs/{h}/utxos",
        schemas.RAW_TX_UTXO,
        transport=transport,
        num_partitions=fetch_partitions,
    )
    out = os.path.join(lake.raw_zone("transaction_utxo"), str(end_block))
    raw.write.mode("overwrite").json(out)
    lake.provider_wm.upsert("cardano_transactions_utxo", end_block)
    return start_block, end_block


# --------------------------------------------------------------------------
# E2: raw zone -> tables (incremental + idempotent)
# --------------------------------------------------------------------------


def _load_zone(
    lake: CardanoLake,
    zone: str,
    wm_name: str,
    raw_schema: T.StructType,
    build_tables: Callable[[DataFrame], dict[str, DataFrame]],
) -> list[int] | None:
    """Shared E2 skeleton: choose batches by key -> transform -> merge
    all target tables -> record the loaded keys. Returns the keys
    loaded, or None when there was nothing new.

    The batches are the keys E1 upserted into the provider ledger
    under ``wm_name`` (each names the ``raw/{key}`` directory E1 wrote
    just before), minus the keys in E2's own ledger. Both reads are
    driver-side listings, so a caught-up stage runs no Spark job, and
    the scan reads exactly the new directories, however many older
    ones the zone holds. The set, not a max, is compared, so a
    backfilled lower key still loads. Consequences:

    - a batch rewritten under a key already loaded is not reloaded;
    - a directory whose provider upsert never happened (E1 crashed
      between write and upsert) is not loaded until E1 runs again and
      records it;
    - provider ledger values written by the earlier Spark writer
      count like any other.

    A crash between the merges and the ledger upserts reloads the
    batch, which merges to zero new rows (the reference needed a DB
    transaction for the same guarantee)."""
    from pyspark.sql import Observation

    keys = sorted(
        lake.provider_wm.read_values(wm_name) - lake.s3_db_wm.read_values(wm_name)
    )
    if not keys:
        return None
    # one path string: a Hadoop glob over exactly the new directories.
    # Not cached: a zone feeding several tables re-reads its few new
    # JSON files per table, which costs less than filling a cache
    raw = read_json_zone(
        lake.spark,
        os.path.join(lake.raw_zone(zone), "{" + ",".join(map(str, keys)) + "}"),
        raw_schema,
    )
    counts: dict[str, int] = {}
    for table, df in build_tables(raw).items():
        # A5 (transform_cardano_tx_utxo_dto_to_df.py:93-96 logs
        # per-table row counts): df.observe rides the merge's own
        # actions — no extra count() job over the lineage.
        obs = Observation(f"load_{table}")
        lake.sink(table).merge(df.observe(obs, F.count(F.lit(1)).alias("n_rows")))
        counts[table] = obs.get["n_rows"]
    lake.last_load_counts = counts
    for key in keys:
        lake.s3_db_wm.upsert(wm_name, key)
    return keys


def max_modified(df: DataFrame) -> None:
    """Not called: E2 chooses its batches by key. The ``--trace 1``
    tracer in ``perfbench/etl.py`` still wraps this name, and is its
    only user."""


def raw_blocks_to_table(lake: CardanoLake) -> list[int] | None:
    """E2 for blocks (s3_to_db_cardano_blocks_pipeline.py:64-127)."""
    created = transforms.batch_created_at()
    return _load_zone(
        lake,
        "blocks",
        "cardano_blocks",
        schemas.RAW_BLOCK,
        lambda raw: {
            "cardano_blocks": transforms.blocks_raw_to_table(raw, created)
        },
    )


def raw_block_transactions_to_table(lake: CardanoLake) -> list[int] | None:
    created = transforms.batch_created_at()
    return _load_zone(
        lake,
        "block_transactions",
        "cardano_block_transactions",
        schemas.RAW_BLOCK_TRANSACTIONS,
        lambda raw: {
            "cardano_block_transactions": transforms.block_transactions_raw_to_table(
                raw, created
            )
        },
    )


def raw_transactions_to_table(lake: CardanoLake) -> list[int] | None:
    """E2 for transactions + the fixed output_amount explode
    (SURVEY §2.13)."""
    created = transforms.batch_created_at()
    return _load_zone(
        lake,
        "transactions",
        "cardano_transactions",
        schemas.RAW_TRANSACTION,
        lambda raw: {
            "cardano_transactions": transforms.transactions_raw_to_table(raw, created),
            "cardano_tx_output_amount": transforms.tx_output_amount_table(raw, created),
        },
    )


def raw_tx_utxo_to_tables(lake: CardanoLake) -> list[int] | None:
    """E2 widest variant: one scan, five merged tables
    (s3_to_db_cardano_tx_utxo_pipeline.py:88-209)."""
    created = transforms.batch_created_at()
    return _load_zone(
        lake,
        "transaction_utxo",
        "cardano_transactions_utxo",
        schemas.RAW_TX_UTXO,
        lambda raw: transforms.flatten_tx_utxo(raw, created),
    )


# --------------------------------------------------------------------------
# E3: parameterized full pipeline (windowed orchestration)
# --------------------------------------------------------------------------


def full_tx_pipeline(
    lake: CardanoLake,
    transport: Callable[[str], bytes],
    start_block: int,
    end_block: int,
    window: int = 1000,
    base_url: str = "https://cardano-mainnet.example/api/v0",
) -> None:
    """The reference's pipeline-of-pipelines
    (cardano_transactions_full_pipeline_w_params.py:48-57): per
    1000-block window, tx->raw, raw->tables, utxo->raw, raw->5 tables."""
    start = start_block
    while start <= end_block:
        end = min(start + window - 1, end_block)
        transactions_to_raw(lake, transport, base_url, start, end)
        raw_transactions_to_table(lake)
        tx_utxo_to_raw(lake, transport, base_url, start, end)
        raw_tx_utxo_to_tables(lake)
        start = end + 1
