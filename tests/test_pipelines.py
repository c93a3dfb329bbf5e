"""End-to-end pipeline tests: E1 provider->raw, E2 raw->tables,
E3 windowed full pipeline — against the deterministic fake transport."""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from cardano_spark.pipelines import cardano
from cardano_spark.watermark import DEFAULT_START_BLOCK
from tests import fake_blockfrost


@pytest.fixture()
def lake(spark, tmp_path):
    return cardano.CardanoLake(spark, str(tmp_path / "lake"))


BATCH = 40


def test_blocks_end_to_end(lake):
    window = cardano.blocks_to_raw(
        lake, fake_blockfrost.transport, batch=BATCH, fetch_partitions=2
    )
    assert window == (DEFAULT_START_BLOCK, DEFAULT_START_BLOCK + BATCH - 1)
    cardano.raw_blocks_to_table(lake)

    blocks = lake.sink("cardano_blocks").read()
    assert blocks.count() == BATCH
    # A5: per-table row counts observed during the load (df.observe
    # rides the merge actions; no extra count job)
    assert lake.last_load_counts == {"cardano_blocks": BATCH}
    row = blocks.filter(F.col("height") == DEFAULT_START_BLOCK).collect()[0]
    assert row["hash"] == fake_blockfrost.block_payload(DEFAULT_START_BLOCK)["hash"]
    assert row["time"].year >= 2023  # unix -> timestamp conversion (C1)
    assert row["created_at"] is not None

    # watermark advanced -> second E1 run fetches the NEXT window
    window2 = cardano.blocks_to_raw(
        lake, fake_blockfrost.transport, batch=BATCH, fetch_partitions=2
    )
    assert window2[0] == window[1] + 1

    # E2 replay is idempotent: re-merging the same raw files adds 0 rows
    lake.s3_db_wm  # (watermark prevents re-read; force a full re-merge)
    cardano.raw_blocks_to_table(lake)
    total = lake.sink("cardano_blocks").read().count()
    assert total == 2 * BATCH


def _set_mtime(directory: str, ms: int) -> None:
    for name in os.listdir(directory):
        os.utime(os.path.join(directory, name), ns=(ms * 1_000_000, ms * 1_000_000))


def test_e2_boundary_listing_millisecond(lake, monkeypatch):
    """A file landing in the millisecond the E2 scan lists in, after
    the listing, has the mtime that a max-mtime watermark would take.
    The watermark stops short of that millisecond, so the next cycle
    reads the file."""
    from cardano_spark.sources.files import read_json_zone

    def land_batch(ms: int) -> None:
        _, end = cardano.blocks_to_raw(
            lake, fake_blockfrost.transport, batch=BATCH, fetch_partitions=2
        )
        _set_mtime(os.path.join(lake.raw_zone("blocks"), str(end)), ms)

    listed_ms = (int(time.time()) - 60) * 1000 + 620
    listed_at = datetime(1970, 1, 1) + timedelta(milliseconds=listed_ms)
    land_batch(listed_ms - 5000)
    land_batch(listed_ms)  # in the listing millisecond
    monkeypatch.setattr(cardano, "scan_cutoff", lambda: listed_at)
    wm = cardano.raw_blocks_to_table(lake)
    assert wm == listed_at - timedelta(seconds=5)
    assert lake.sink("cardano_blocks").read().count() == 2 * BATCH
    monkeypatch.undo()

    land_batch(listed_ms)  # same millisecond, after the listing
    zone = os.path.join(lake.raw_zone("blocks"), "*")
    # a watermark at the listing millisecond would skip it for good
    assert not read_json_zone(
        lake.spark, zone, cardano.schemas.RAW_BLOCK, modified_after=listed_at
    ).inputFiles()
    assert cardano.raw_blocks_to_table(lake) == listed_at
    assert lake.last_load_counts == {"cardano_blocks": 2 * BATCH}
    assert lake.sink("cardano_blocks").read().count() == 3 * BATCH


def test_e2_caught_up_runs_no_spark_job(lake, monkeypatch, count_jobs):
    cardano.blocks_to_raw(lake, fake_blockfrost.transport, batch=BATCH, fetch_partitions=2)
    assert cardano.raw_blocks_to_table(lake) is not None

    def no_merge(self, *args, **kwargs):
        raise AssertionError("a caught-up E2 stage merged")

    monkeypatch.setattr(cardano.ParquetMergeSink, "merge", no_merge)
    assert count_jobs(lambda: cardano.raw_blocks_to_table(lake)) == (None, 0)


def test_block_transactions_gate_and_array_column(lake):
    # child gated on parent: nothing to do before blocks ran
    assert (
        cardano.block_transactions_to_raw(lake, fake_blockfrost.transport, batch=BATCH)
        is None
    )
    cardano.blocks_to_raw(lake, fake_blockfrost.transport, batch=BATCH)
    w = cardano.block_transactions_to_raw(
        lake, fake_blockfrost.transport, batch=BATCH, fetch_partitions=2
    )
    assert w is not None
    cardano.raw_block_transactions_to_table(lake)
    bt = lake.sink("cardano_block_transactions").read()
    assert bt.count() == BATCH
    row = bt.filter(F.col("block") == str(DEFAULT_START_BLOCK + 1)).collect()[0]
    assert row["tx_hash"] == fake_blockfrost.tx_hashes_for_block(
        DEFAULT_START_BLOCK + 1
    )


def test_full_tx_pipeline_five_tables(lake):
    cardano.blocks_to_raw(lake, fake_blockfrost.transport, batch=BATCH)
    cardano.block_transactions_to_raw(lake, fake_blockfrost.transport, batch=BATCH)
    cardano.raw_block_transactions_to_table(lake)

    start, end = DEFAULT_START_BLOCK, DEFAULT_START_BLOCK + BATCH - 1
    cardano.full_tx_pipeline(
        lake, fake_blockfrost.transport, start, end, window=BATCH
    )

    txs = lake.sink("cardano_transactions").read()
    n_tx = txs.count()
    expected_hashes = {
        h
        for height in range(start, end + 1)
        for h in fake_blockfrost.tx_hashes_for_block(height)
    }
    assert n_tx == len(expected_hashes) > 0

    # output_amount explode (the fixed §2.13 semantics): 2 per tx
    out_amt = lake.sink("cardano_tx_output_amount").read()
    assert out_amt.count() == 2 * n_tx

    # 5-table flatten with FK integrity
    parent = lake.sink("cardano_tx_utxo").read()
    inputs = lake.sink("cardano_tx_utxo_input").read()
    in_amt = lake.sink("cardano_tx_utxo_input_amount").read()
    outputs = lake.sink("cardano_tx_utxo_output").read()
    out_amt2 = lake.sink("cardano_tx_utxo_output_amount").read()
    assert parent.count() == n_tx
    assert inputs.count() > 0 and outputs.count() > 0
    # FK: every child hash exists in transactions; every amount's
    # parent_id exists in its parent table (FIXTURES.md invariants 1-2)
    assert inputs.join(txs, "hash", "left_anti").count() == 0
    assert (
        in_amt.join(inputs.select(F.col("id").alias("parent_id")), "parent_id", "left_anti").count()
        == 0
    )
    assert (
        out_amt2.join(outputs.select(F.col("id").alias("parent_id")), "parent_id", "left_anti").count()
        == 0
    )
    # Decimal(38,0) wide path survived (20-digit quantities)
    assert (
        in_amt.filter(
            F.col("quantity") > F.lit(str(10**19)).cast("decimal(38,0)")
        ).count()
        > 0
    )

    # deterministic surrogate ids: re-running the full window produces
    # identical ids -> merge adds zero rows anywhere
    counts_before = {
        t: lake.sink(t).read().count()
        for t in (
            "cardano_tx_utxo",
            "cardano_tx_utxo_input",
            "cardano_tx_utxo_input_amount",
            "cardano_tx_utxo_output",
            "cardano_tx_utxo_output_amount",
        )
    }
    cardano.full_tx_pipeline(lake, fake_blockfrost.transport, start, end, window=BATCH)
    for t, before in counts_before.items():
        assert lake.sink(t).read().count() == before, t


def test_cast_on_read_evolved_raw_zone(spark, tmp_path):
    """Schema evolution (README "Schema evolution"): a raw zone with
    files written under an OLD schema (block_time = unix-seconds int,
    no tx_count) and a NEW schema (timestamp + tx_count) reads back
    through one declared StructType — the Spark twin of the Alembic
    int->timestamp migration (reference
    database_management/versions/b0673669b6c8, to_timestamp)."""
    from pyspark.sql import types as T

    from cardano_spark.sources.files import cast_to_schema

    old_dir = str(tmp_path / "v1")
    new_dir = str(tmp_path / "v2")
    spark.createDataFrame(
        [(1, 1_700_000_000), (2, 1_700_000_060)], "block_id long, block_time long"
    ).write.parquet(old_dir)
    spark.createDataFrame(
        [(3, "2023-11-14 22:15:00", 7)],
        "block_id long, block_time string, tx_count long",
    ).select(
        "block_id", F.col("block_time").cast("timestamp").alias("block_time"), "tx_count"
    ).write.parquet(new_dir)

    declared = T.StructType(
        [
            T.StructField("block_id", T.LongType()),
            T.StructField("block_time", T.TimestampType()),
            T.StructField("tx_count", T.LongType()),
        ]
    )
    old = cast_to_schema(
        spark.read.parquet(old_dir),
        declared,
        using={"block_time": F.timestamp_seconds(F.col("block_time"))},
    )
    new = cast_to_schema(spark.read.parquet(new_dir), declared)
    both = old.unionByName(new)
    assert both.schema == declared
    rows = {r.block_id: (str(r.block_time), r.tx_count) for r in both.collect()}
    assert rows[1] == ("2023-11-14 22:13:20", None)  # epoch converted, NULL-filled
    assert rows[3] == ("2023-11-14 22:15:00", 7)
    assert len(rows) == 3


def test_events_loader_normalizes_both_ts_generations(spark, tmp_path):
    """The driver's testdata has shipped events.ts as TIMESTAMP(NANOS)
    (read as int64 under nanosAsLong) and as TIMESTAMP(MICROS, ntz) in
    different rounds; catalog._read_events must normalize BOTH to the
    same session-UTC TimestampType rows (the loader-level face of the
    cast-on-read evolution story)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from cardano_spark.catalog import table
    from tests.conftest import SF_SMALL

    canonical = table(spark, SF_SMALL, "events")
    want = sorted(
        map(tuple, canonical.select("event_id", "ts", "user_id").collect())
    )

    def roundtrip(df, name):
        d = str(tmp_path / name)
        os.makedirs(d)
        tmp = str(tmp_path / f"w_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.copy(os.path.join(tmp, part), os.path.join(d, "events.parquet"))
        got = table(spark, d, "events")
        assert dict(got.dtypes)["ts"] == "timestamp"
        return sorted(map(tuple, got.select("event_id", "ts", "user_id").collect()))

    # old generation: ts as int64 nanoseconds
    old = canonical.withColumn("ts", F.unix_micros("ts") * F.lit(1000)).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    assert roundtrip(old, "old_nanos") == want

    # new generation: ts as TIMESTAMP_NTZ micros
    new = canonical.withColumn("ts", F.col("ts").cast("timestamp_ntz")).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    assert roundtrip(new, "new_ntz") == want


def test_cli_blocks_and_full_tx(spark, tmp_path, capsys, monkeypatch):
    """python -m cardano_spark parity with the reference's click CLIs:
    the gated blocks pipeline and the windowed full-tx pipeline run
    end-to-end through main() with an injected transport."""
    from cardano_spark import __main__ as cli
    from cardano_spark.watermark import DEFAULT_START_BLOCK as S

    # main() builds its own session via get_spark — same master, so it
    # reuses the active one (getOrCreate); no second JVM.
    root = str(tmp_path / "lake")
    rc = cli.main(["--root", root, "blocks"], transport=fake_blockfrost.transport)
    assert rc == 0
    out = capsys.readouterr().out
    assert f"processed blocks [{S}," in out
    assert "cardano_blocks:" in out and "2000 rows" in out

    rc = cli.main(["--root", root, "block-tx"], transport=fake_blockfrost.transport)
    assert rc == 0
    rc = cli.main(
        [
            "--root", root, "full-tx",
            "--start-block", str(S), "--end-block", str(S + 39), "--window", "20",
        ],
        transport=fake_blockfrost.transport,
    )
    assert rc == 0
    lake = cardano.CardanoLake(spark, root)
    assert lake.sink("cardano_transactions").read().count() > 0
    assert lake.sink("cardano_tx_utxo_input_amount").read().count() > 0


def test_cli_normalize_events(spark, tmp_path):
    """The normalize-events subcommand end-to-end: nanos src ->
    pushdown-friendly micros dest, row count printed; --root not
    required for this maintenance command."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cardano_spark.__main__ import main

    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": [1, 2, 3],
                "ts": pa.array(
                    [1_700_000_000 * 10**9 + i for i in range(3)],
                    pa.timestamp("ns"),
                ),
                "user_id": [1, 2, 3],
                "event_type": ["a", "b", "c"],
                "value": [1.0, 2.0, 3.0],
                "props": ["{}", "{}", "{}"],
            }
        ),
        str(src / "events.parquet"),
    )
    dest = str(tmp_path / "dest")
    assert main(["normalize-events", "--src", str(src), "--dest", dest]) == 0
    assert spark.read.parquet(dest).count() == 3
