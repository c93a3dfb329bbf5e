"""The three pipeline stages of the reference, Spark-first
(SURVEY.md §3 E1-E3).

Zone layout mirrors the reference's S3 key scheme
(cardano/blocks/raw/{end_height}/..., .../transformed/{date}/...,
cardano_blocks_to_s3_pipeline.py:66) with parquet-friendly JSON files;
swap ``root`` for an s3a:// URI in production — every reader/writer
here goes through Hadoop FS.

Each raw zone is declared once, in :data:`ZONES`: its provider-ledger
name, raw schema and provider route. E2 finds a batch only through the
ledger name E1 recorded it under, so both halves read the name (and
the schema) from there.

Stage semantics preserved:
- E1 provider->raw: window (blocks watermark, or the J4 gate) ->
  partition-parallel fetch -> raw JSON zone batch ``raw/{end}`` ->
  provider ledger upsert of ``end``; one skeleton for the four zones.
- E2 raw->table: the batch keys E1 recorded minus the keys already
  loaded -> one scan of exactly those directories -> transform ->
  idempotent merge -> one ledger row per loaded key; merge +
  ledger are crash-safe/replayable instead of transactional (D1
  makes replays no-ops). A caught-up stage runs no Spark job.
- E3 windowed orchestration with the J4 dependency gates.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
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


class Zone(NamedTuple):
    ledger: str  # provider-ledger name; E2's ledger uses it too
    schema: T.StructType  # raw JSON schema, written by E1, read by E2
    route: str  # provider path of one id, under the base URL


#: the raw zones, keyed by their directory ``cardano/{zone}/raw``
ZONES = {
    "blocks": Zone("cardano_blocks", schemas.RAW_BLOCK, "blocks/{}"),
    "block_transactions": Zone(
        "cardano_block_transactions", schemas.RAW_BLOCK_TRANSACTIONS, "blocks/{}/txs"
    ),
    "transactions": Zone("cardano_transactions", schemas.RAW_TRANSACTION, "txs/{}"),
    "transaction_utxo": Zone(
        "cardano_transactions_utxo", schemas.RAW_TX_UTXO, "txs/{}/utxos"
    ),
}


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


def _fetch_to_zone(
    lake: CardanoLake,
    zone: str,
    window: tuple[int, int] | None,
    transport: Callable[[str], bytes],
    base_url: str,
    fetch_partitions: int,
    source: tuple[str, Column, Column] | None = None,
) -> tuple[int, int] | None:
    """The one E1 skeleton (cardano_blocks_to_s3_pipeline.py:53-75):
    GET the zone's route for every id of the window, land the payloads
    as ``raw/{end}``, then upsert ``end`` under the zone's ledger name.
    E2 loads only recorded keys, so a crash between the write and the
    upsert leaves a directory E2 skips until E1 redoes both. Returns
    the window (None when there is none).

    The ids are the window's heights in ``fetch_partitions`` contiguous
    slices, or with a ``source`` (a loaded table, its block column and
    an id expression) the distinct ids of its rows in the window,
    spread over ``fetch_partitions`` (J3 turns the reference's driver
    nested loop, cardano_transactions_to_s3_pipeline.py:104-107, into
    a partition-parallel fetch)."""
    if window is None:
        return None
    start, end = window
    if source is None:
        ids = heights_range(lake.spark, start, end, "id", fetch_partitions)
        spread = None
    else:
        table, block, expr = source
        rows = lake.sink(table).read().filter(block.between(start, end))
        ids, spread = rows.select(expr.alias("id")).distinct(), fetch_partitions
    ledger, schema, route = ZONES[zone]
    raw = fetch_json_map(
        ids,
        "id",
        lambda i: f"{base_url}/{route.format(i)}",
        schema,
        transport=transport,
        num_partitions=spread,
    )
    raw.write.mode("overwrite").json(os.path.join(lake.raw_zone(zone), str(end)))
    lake.provider_wm.upsert(ledger, end)
    return window


def _gated_window(
    lake: CardanoLake,
    zone: str,
    parent: str,
    start_block: int | None = None,
    end_block: int | None = None,
) -> tuple[int, int] | None:
    """The J4 gate: ``zone`` may fetch the blocks after its provider
    key up to ``parent``'s, and nothing once it has caught up. An
    explicit window (both ends given) is taken as is."""
    if start_block is not None and end_block is not None:
        return start_block, end_block
    wm = lake.provider_wm
    return dependency_gate(
        wm.read_latest(ZONES[zone].ledger), wm.read_latest(ZONES[parent].ledger)
    )


def blocks_to_raw(
    lake: CardanoLake,
    transport: Callable[[str], bytes],
    base_url: str = "https://cardano-mainnet.example/api/v0",
    batch: int = 2000,
    fetch_partitions: int = 8,
) -> tuple[int, int] | None:
    """E1 for blocks: the ``batch`` heights after the watermark (the
    reference's 2000-block files, cardano_blocks_to_s3_pipeline.py:40-51)."""
    latest = lake.provider_wm.read_latest(ZONES["blocks"].ledger)
    window = next_block_window(latest, batch)
    return _fetch_to_zone(lake, "blocks", window, transport, base_url, fetch_partitions)


def block_transactions_to_raw(
    lake: CardanoLake,
    transport: Callable[[str], bytes],
    base_url: str = "https://cardano-mainnet.example/api/v0",
    batch: int = 2000,
    fetch_partitions: int = 8,
) -> tuple[int, int] | None:
    """E1 for block->tx lists, gated on the blocks ledger, at most
    ``batch`` heights. The response is a bare JSON array of hashes;
    it's re-keyed to {block_height, tx_hash[]} like
    CardanoBlockTransactions.from_json (cardano_block_transactions.py:20-24)."""
    window = _gated_window(lake, "block_transactions", "blocks")
    if window is not None:
        window = window[0], min(window[1], window[0] + batch - 1)

    def fetch_block_txs(url: str) -> bytes:
        hashes = json.loads(transport(url))
        height = int(url.rsplit("/", 2)[-2])
        return json.dumps([{"block_height": height, "tx_hash": hashes}]).encode()

    return _fetch_to_zone(
        lake, "block_transactions", window, fetch_block_txs, base_url, fetch_partitions
    )


def transactions_to_raw(
    lake: CardanoLake,
    transport: Callable[[str], bytes],
    base_url: str = "https://cardano-mainnet.example/api/v0",
    start_block: int | None = None,
    end_block: int | None = None,
    fetch_partitions: int = 8,
) -> tuple[int, int] | None:
    """E3 step 1: one id per tx hash that the loaded
    ``cardano_block_transactions`` table (S13) lists for the window."""
    window = _gated_window(
        lake, "transactions", "block_transactions", start_block, end_block
    )
    block, hashes = F.col("block").cast("long"), F.explode("tx_hash")
    source = "cardano_block_transactions", block, hashes
    return _fetch_to_zone(
        lake, "transactions", window, transport, base_url, fetch_partitions, source
    )


def tx_utxo_to_raw(
    lake: CardanoLake,
    transport: Callable[[str], bytes],
    base_url: str = "https://cardano-mainnet.example/api/v0",
    start_block: int | None = None,
    end_block: int | None = None,
    fetch_partitions: int = 8,
) -> tuple[int, int] | None:
    """E3 step 3: the window's hashes from the loaded
    ``cardano_transactions`` table (S12)
    (cardano_tx_utxo_to_s3_pipeline.py:58-118)."""
    window = _gated_window(
        lake, "transaction_utxo", "transactions", start_block, end_block
    )
    source = "cardano_transactions", F.col("block_height"), F.col("hash")
    return _fetch_to_zone(
        lake, "transaction_utxo", window, transport, base_url, fetch_partitions, source
    )


# --------------------------------------------------------------------------
# E2: raw zone -> tables (incremental + idempotent)
# --------------------------------------------------------------------------


def _load_zone(
    lake: CardanoLake,
    zone: str,
    build_tables: Callable[[DataFrame, Column], dict[str, DataFrame]],
) -> list[int] | None:
    """Shared E2 skeleton: choose batches by key -> transform (with one
    ``created_at`` stamp for the batch) -> merge all target tables ->
    record the loaded keys. Returns the keys loaded, or None when there
    was nothing new.

    The batches are the keys E1 upserted into the provider ledger
    under the zone's ledger name (each names the ``raw/{key}``
    directory E1 wrote just before), minus the keys E2's own ledger
    holds under the same name. Each ledger read is one listing and one
    get of its one object, so a caught-up stage runs no Spark job at
    any ledger age, and the scan reads exactly the new directories,
    however many older ones the zone holds. The set, not a max, is compared, so a
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

    spec = ZONES[zone]
    keys = sorted(
        lake.provider_wm.read_values(spec.ledger)
        - lake.s3_db_wm.read_values(spec.ledger)
    )
    if not keys:
        return None
    # one path string: a Hadoop glob over exactly the new directories.
    # Not cached: a zone feeding several tables re-reads its few new
    # JSON files per table, which costs less than filling a cache
    raw = read_json_zone(
        lake.spark,
        os.path.join(lake.raw_zone(zone), "{" + ",".join(map(str, keys)) + "}"),
        spec.schema,
    )
    counts: dict[str, int] = {}
    for table, df in build_tables(raw, transforms.batch_created_at()).items():
        # A5 (transform_cardano_tx_utxo_dto_to_df.py:93-96 logs
        # per-table row counts): df.observe rides the merge's own
        # actions — no extra count() job over the lineage.
        obs = Observation(f"load_{table}")
        lake.sink(table).merge(df.observe(obs, F.count(F.lit(1)).alias("n_rows")))
        counts[table] = obs.get["n_rows"]
    lake.last_load_counts = counts
    for key in keys:
        lake.s3_db_wm.upsert(spec.ledger, key)
    return keys


def max_modified(df: DataFrame) -> None:
    """Not called: E2 chooses its batches by key. The ``--trace 1``
    tracer in ``perfbench/etl.py`` still wraps this name, and is its
    only user."""


def raw_blocks_to_table(lake: CardanoLake) -> list[int] | None:
    """E2 for blocks (s3_to_db_cardano_blocks_pipeline.py:64-127)."""
    return _load_zone(
        lake,
        "blocks",
        lambda raw, at: {"cardano_blocks": transforms.blocks_raw_to_table(raw, at)},
    )


def raw_block_transactions_to_table(lake: CardanoLake) -> list[int] | None:
    return _load_zone(
        lake,
        "block_transactions",
        lambda raw, at: {
            "cardano_block_transactions": transforms.block_transactions_raw_to_table(
                raw, at
            )
        },
    )


def raw_transactions_to_table(lake: CardanoLake) -> list[int] | None:
    """E2 for transactions + the fixed output_amount explode
    (SURVEY §2.13)."""
    return _load_zone(
        lake,
        "transactions",
        lambda raw, at: {
            "cardano_transactions": transforms.transactions_raw_to_table(raw, at),
            "cardano_tx_output_amount": transforms.tx_output_amount_table(raw, at),
        },
    )


def raw_tx_utxo_to_tables(lake: CardanoLake) -> list[int] | None:
    """E2 widest variant: one scan, five merged tables
    (s3_to_db_cardano_tx_utxo_pipeline.py:88-209)."""
    return _load_zone(lake, "transaction_utxo", transforms.flatten_tx_utxo)


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
