"""End-to-end pipeline tests: E1 provider->raw, E2 raw->tables,
E3 windowed full pipeline — against the deterministic fake transport."""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

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


def test_e1_runs_one_spark_job(lake, count_jobs):
    """E1 splits its height range into ``fetch_partitions`` contiguous
    slices and writes the fetched zone batch in the same job: no
    shuffle spreads the ids first."""

    def run(stage):
        return stage(lake, fake_blockfrost.transport, batch=BATCH, fetch_partitions=4)

    window, jobs = count_jobs(lambda: run(cardano.blocks_to_raw))
    assert jobs == 1
    assert count_jobs(lambda: run(cardano.block_transactions_to_raw)) == (window, 1)
    batch = os.path.join(lake.raw_zone("blocks"), str(window[1]))
    assert len([f for f in os.listdir(batch) if f.startswith("part-")]) == 4


def _record_batches(lake, n: int, size: int) -> int:
    """Land ``n`` blocks batches of ``size`` heights as E1 does (one
    ``raw/{end}`` JSON directory, then the provider upsert) without
    the fetch. Returns the rows landed."""
    zone = lake.raw_zone("blocks")
    for i in range(n):
        start = DEFAULT_START_BLOCK + i * size
        end = start + size - 1
        out = os.path.join(zone, str(end))
        os.makedirs(out)
        with open(os.path.join(out, "part-00000.json"), "w") as f:
            for h in range(start, end + 1):
                f.write(json.dumps(fake_blockfrost.block_payload(h)) + "\n")
        open(os.path.join(out, "_SUCCESS"), "w").close()
        lake.provider_wm.upsert("cardano_blocks", end)
    return n * size


def _table_rows(lake, table: str) -> list:
    """The table's rows without the per-run ``created_at`` stamp."""
    df = lake.sink(table).read().drop("created_at")
    return sorted(df.collect())


def test_e2_caught_up_runs_no_spark_job(lake, monkeypatch, count_jobs):
    cardano.blocks_to_raw(lake, fake_blockfrost.transport, batch=BATCH, fetch_partitions=2)
    assert cardano.raw_blocks_to_table(lake) is not None

    def no_merge(self, *args, **kwargs):
        raise AssertionError("a caught-up E2 stage merged")

    monkeypatch.setattr(cardano.ParquetMergeSink, "merge", no_merge)
    assert count_jobs(lambda: cardano.raw_blocks_to_table(lake)) == (None, 0)


def test_e2_caught_up_over_many_batches_runs_no_spark_job(lake, count_jobs):
    """E2 chooses its batches by key, so a caught-up stage runs no
    Spark job however many batch directories the zone holds (a glob
    over more than 32 of them lists in a Spark job), and one new
    batch loads exactly once."""
    landed = _record_batches(lake, 40, 2)
    assert len(cardano.raw_blocks_to_table(lake)) == 40
    assert lake.last_load_counts == {"cardano_blocks": landed}
    assert count_jobs(lambda: cardano.raw_blocks_to_table(lake)) == (None, 0)

    _, end = cardano.blocks_to_raw(
        lake, fake_blockfrost.transport, batch=BATCH, fetch_partitions=2
    )
    assert cardano.raw_blocks_to_table(lake) == [end]
    assert lake.last_load_counts == {"cardano_blocks": BATCH}
    assert lake.sink("cardano_blocks").read().count() == landed + BATCH
    assert count_jobs(lambda: cardano.raw_blocks_to_table(lake)) == (None, 0)


def test_e2_skips_a_directory_until_e1_records_it(lake, monkeypatch):
    """E1 crashing between its write and its provider upsert leaves a
    directory no ledger names: E2 does not load it. The next E1 run
    rewrites the same window and records it, and E2 loads it once."""
    real_upsert = lake.provider_wm.upsert

    def crash(table, value):
        raise RuntimeError("simulated crash before the provider upsert")

    monkeypatch.setattr(lake.provider_wm, "upsert", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        cardano.blocks_to_raw(lake, fake_blockfrost.transport, batch=BATCH, fetch_partitions=2)
    monkeypatch.setattr(lake.provider_wm, "upsert", real_upsert)
    assert os.listdir(lake.raw_zone("blocks")) == [str(DEFAULT_START_BLOCK + BATCH - 1)]
    assert cardano.raw_blocks_to_table(lake) is None

    _, end = cardano.blocks_to_raw(
        lake, fake_blockfrost.transport, batch=BATCH, fetch_partitions=2
    )
    assert end == DEFAULT_START_BLOCK + BATCH - 1
    assert cardano.raw_blocks_to_table(lake) == [end]
    assert lake.last_load_counts == {"cardano_blocks": BATCH}
    assert cardano.raw_blocks_to_table(lake) is None


def test_e2_loads_a_backfilled_lower_key(lake):
    """An explicit-window ``full_tx_pipeline`` over earlier blocks
    records a key below the loaded ones; E2 compares key sets, not a
    max, so the backfill loads."""
    cardano.blocks_to_raw(lake, fake_blockfrost.transport, batch=BATCH)
    cardano.block_transactions_to_raw(lake, fake_blockfrost.transport, batch=BATCH)
    cardano.raw_block_transactions_to_table(lake)
    start, mid, end = DEFAULT_START_BLOCK, DEFAULT_START_BLOCK + BATCH // 2, DEFAULT_START_BLOCK + BATCH - 1

    def hashes(lo: int, hi: int) -> set[str]:
        return {h for b in range(lo, hi + 1) for h in fake_blockfrost.tx_hashes_for_block(b)}

    cardano.full_tx_pipeline(lake, fake_blockfrost.transport, mid, end, window=BATCH)
    txs = {r.hash for r in lake.sink("cardano_transactions").read().select("hash").collect()}
    assert txs == hashes(mid, end)

    cardano.full_tx_pipeline(lake, fake_blockfrost.transport, start, mid - 1, window=BATCH)
    assert lake.provider_wm.read_latest("cardano_transactions") == end
    assert lake.s3_db_wm.read_values("cardano_transactions") == {mid - 1, end}
    txs = {r.hash for r in lake.sink("cardano_transactions").read().select("hash").collect()}
    assert txs == hashes(start, end) and len(txs) > len(hashes(mid, end))
    assert lake.sink("cardano_tx_utxo").read().count() == len(txs)


def test_e2_upgrades_a_lake_with_an_mtime_ledger(lake, count_jobs):
    """A lake whose E2 ledger is the earlier mtime ledger
    (``s3_to_db_import_status``, timestamp values in the object names)
    reloads every batch once through the idempotent merge, to the
    same row counts, and is caught up after."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    for _ in range(2):
        cardano.blocks_to_raw(lake, fake_blockfrost.transport, batch=BATCH, fetch_partitions=2)
    keys = cardano.raw_blocks_to_table(lake)
    before = _table_rows(lake, "cardano_blocks")
    assert len(keys) == 2 and len(before) == 2 * BATCH

    # the lake as the earlier E2 left it: no key ledger, one mtime object
    state = os.path.join(lake.root, "_state")
    shutil.rmtree(os.path.join(state, "s3_to_db_loaded_batches"))
    old = os.path.join(state, "s3_to_db_import_status")
    os.makedirs(old)
    ts = pa.timestamp("us", tz="UTC")
    now = datetime.now(timezone.utc)
    pq.write_table(
        pa.Table.from_pylist(
            [{"table": "cardano_blocks", "file_modified_date": now, "created_at": now}],
            schema=pa.schema([("table", pa.string()), ("file_modified_date", ts), ("created_at", ts)]),
        ),
        os.path.join(old, f"cardano_blocks.{now:%Y%m%dT%H%M%S%f}.{uuid.uuid4().hex}.parquet"),
    )

    fresh = cardano.CardanoLake(lake.spark, lake.root)
    assert cardano.raw_blocks_to_table(fresh) == keys
    assert fresh.last_load_counts == {"cardano_blocks": 2 * BATCH}
    assert _table_rows(fresh, "cardano_blocks") == before
    assert count_jobs(lambda: cardano.raw_blocks_to_table(fresh)) == (None, 0)


def test_e2_crash_before_the_ledger_upserts_replays_to_the_same_tables(
    spark, tmp_path, monkeypatch
):
    """A crash after the merges, with one of two loaded keys recorded,
    replays the rest through the idempotent merge: the tables equal an
    uninterrupted run's, and the ledger holds both keys."""
    clean, torn = (cardano.CardanoLake(spark, str(tmp_path / n)) for n in ("clean", "torn"))
    for lk in (clean, torn):
        for _ in range(2):
            cardano.blocks_to_raw(lk, fake_blockfrost.transport, batch=BATCH, fetch_partitions=2)
    keys = cardano.raw_blocks_to_table(clean)

    real_upsert = torn.s3_db_wm.upsert
    recorded: list[int] = []

    def crash_after_first(table, value):
        if recorded:
            raise RuntimeError("simulated crash between ledger upserts")
        recorded.append(value)
        real_upsert(table, value)

    monkeypatch.setattr(torn.s3_db_wm, "upsert", crash_after_first)
    with pytest.raises(RuntimeError, match="simulated crash"):
        cardano.raw_blocks_to_table(torn)
    monkeypatch.setattr(torn.s3_db_wm, "upsert", real_upsert)
    assert torn.s3_db_wm.read_values("cardano_blocks") == {keys[0]}

    assert cardano.raw_blocks_to_table(torn) == keys[1:]
    assert torn.last_load_counts == {"cardano_blocks": BATCH}
    assert _table_rows(torn, "cardano_blocks") == _table_rows(clean, "cardano_blocks")
    assert torn.s3_db_wm.read_values("cardano_blocks") == set(keys)
    assert cardano.raw_blocks_to_table(torn) is None


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


def test_lake_keeps_one_sink_per_table(lake, spark):
    """``CardanoLake.sink`` returns the same sink for a table on every
    call, and a merge through it shows in the next read."""
    from cardano_spark import schemas

    sink = lake.sink("cardano_blocks")
    assert lake.sink("cardano_blocks") is sink
    assert lake.sink("cardano_transactions") is not sink
    assert sink.read().count() == 0

    window = cardano.blocks_to_raw(
        lake, fake_blockfrost.transport, batch=BATCH, fetch_partitions=2
    )
    assert window is not None
    cardano.raw_blocks_to_table(lake)
    assert lake.sink("cardano_blocks").read().count() == BATCH

    row = sink.read().limit(1).collect()[0].asDict()
    row["height"] = -1
    sink.merge(spark.createDataFrame([row], schemas.TARGET_SCHEMAS["cardano_blocks"]))
    assert lake.sink("cardano_blocks").read().count() == BATCH + 1
