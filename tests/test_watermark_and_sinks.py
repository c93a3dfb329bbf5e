"""Unit tests: watermark store/gates, parquet merge sink, DB upsert
sink (against duckdb as the ON CONFLICT database)."""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cardano_spark.sinks.merge import DBUpsertSink, ParquetMergeSink
from cardano_spark.watermark import (
    DEFAULT_START_BLOCK,
    ParquetWatermarkStore,
    dependency_gate,
    next_block_window,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def test_watermark_roundtrip(spark, tmp_path):
    store = ParquetWatermarkStore(spark, str(tmp_path / "wm"), "block_height")
    assert store.read_latest("cardano_blocks") is None
    store.upsert("cardano_blocks", 100)
    store.upsert("cardano_blocks", 200)
    store.upsert("other_table", 999)
    assert store.read_latest("cardano_blocks") == 200
    # replayed upsert (PK dup) is harmless
    store.upsert("cardano_blocks", 200)
    assert store.read_latest("cardano_blocks") == 200


def _int_store(spark, path):
    return ParquetWatermarkStore(spark, path, "block_height")


def test_watermark_ledger_runs_no_spark_job(spark, tmp_path, count_jobs):
    """Control state stays on the driver: an upsert is one object put,
    a read one listing."""
    # the counter sees a real job
    assert count_jobs(lambda: spark.sparkContext.parallelize([1, 2], 2).count()) == (2, 1)
    store = _int_store(spark, str(tmp_path / "wm"))
    assert count_jobs(lambda: store.upsert("cardano_blocks", 11_292_739)) == (None, 0)
    assert count_jobs(lambda: store.read_latest("cardano_blocks")) == (11_292_739, 0)
    assert count_jobs(lambda: store.read_values("cardano_blocks")) == ({11_292_739}, 0)
    assert count_jobs(lambda: store.read_latest("other")) == (None, 0)


def test_watermark_ledger_is_a_parquet_dataset(spark, tmp_path):
    """New ledger objects keep the one-row parquet layout: Spark reads
    every column, the ``created_at`` timestamp included (written
    UTC-adjusted)."""
    store = _int_store(spark, str(tmp_path / "wm"))
    store.upsert("a", 7)
    store.upsert("b", 2**40)
    rows = spark.read.schema(store.schema).parquet(store.path).collect()
    assert sorted((r["table"], r["block_height"]) for r in rows) == [("a", 7), ("b", 2**40)]
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    assert all(abs(r["created_at"] - now) < timedelta(minutes=5) for r in rows)


def _ledger_objects(path):
    return sorted(
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _count_store_calls(monkeypatch, store):
    """Count every ObjectStore call the ledger makes, by method."""
    calls: dict[str, int] = {}
    for name in ("list_names", "get", "exists", "glob", "put", "put_if_absent", "rename", "delete"):
        def counted(*a, _name=name, _orig=getattr(store._store, name)):
            calls[_name] = calls.get(_name, 0) + 1
            return _orig(*a)

        monkeypatch.setattr(store._store, name, counted)
    return calls


def test_watermark_replayed_upsert_commits_nothing(spark, tmp_path, monkeypatch):
    store = _int_store(spark, str(tmp_path / "wm"))
    store.upsert("cardano_blocks", 7)
    calls = _count_store_calls(monkeypatch, store)
    store.upsert("cardano_blocks", 7)
    assert calls == {"list_names": 1, "get": 1}
    assert _ledger_objects(store.path) == ["00000000000000000000.parquet"]
    assert store.read_latest("cardano_blocks") == 7


def test_watermark_ledger_is_one_object_at_any_upsert_count(spark, tmp_path, monkeypatch):
    """After every upsert the directory holds one parquet object, so a
    read is one listing plus one get however many upserts came before."""
    store = _int_store(spark, str(tmp_path / "wm"))
    reads = {}
    for n in range(1, 201):
        store.upsert("cardano_blocks" if n % 2 else "other", n)
        assert len(_ledger_objects(store.path)) == 1, n
        if n in (1, 10, 200):
            with monkeypatch.context() as m:
                calls = _count_store_calls(m, store)
                values = store.read_values("cardano_blocks")
            assert values == set(range(1, n + 1, 2))
            reads[n] = calls
    assert reads[1] == reads[10] == reads[200] == {"list_names": 1, "get": 1}


def _legacy_append(spark, path, rows):
    """Append one object the earlier Spark writer would have written
    (``part-*.parquet``, no value in the name)."""
    spark.createDataFrame(rows, "table string, block_height long").select(
        "table", "block_height", F.current_timestamp().alias("created_at")
    ).coalesce(1).write.mode("append").parquet(path)


def test_watermark_reads_legacy_spark_ledger(spark, tmp_path):
    """Ledgers written by the earlier Spark writer (``part-*.parquet``,
    no value in the name) read back, and the first upsert folds them
    into one version with the same values."""
    blocks = str(tmp_path / "blocks")
    for table, value in (("cardano_blocks", 300), ("cardano_blocks", 200), ("other", 999)):
        _legacy_append(spark, blocks, [(table, value)])
    store = _int_store(spark, blocks)
    assert store.read_latest("cardano_blocks") == 300
    legacy = {t: store.read_values(t) for t in ("cardano_blocks", "other")}
    store.upsert("cardano_blocks", 250)
    assert _ledger_objects(blocks) == ["00000000000000000000.parquet"]
    assert store.read_values("cardano_blocks") == legacy["cardano_blocks"] | {250}
    assert store.read_values("other") == legacy["other"]
    assert store.read_latest("cardano_blocks") == 300
    store.upsert("cardano_blocks", 301)
    assert store.read_latest("cardano_blocks") == 301
    assert store.read_latest("other") == 999
    assert store.read_values("cardano_blocks") == {200, 250, 300, 301}


def _ledger_rows(path):
    """(table, value) -> created_at of a ledger at rest: one object."""
    import pyarrow.parquet as pq

    (name,) = _ledger_objects(path)
    rows = pq.read_table(os.path.join(path, name)).to_pylist()
    assert len(rows) == len({(r["table"], r["block_height"]) for r in rows})
    return {(r["table"], r["block_height"]): r["created_at"] for r in rows}


def test_watermark_crash_at_every_object_store_call(spark, tmp_path, monkeypatch):
    """For every k, the k-th ObjectStore mutation of an upsert raises
    (the put also once after writing half its bytes), on a ledger that
    holds a legacy ``part-*`` object beside one version. The reopened
    ledger reads as before or after the upsert, and a replay leaves
    the uninterrupted run's rows in one object."""
    import shutil

    from cardano_spark.sources.objectstore import ObjectStore

    base = str(tmp_path / "base")
    store = _int_store(spark, base)
    store.upsert("cardano_blocks", 100)
    store.upsert("other", 5)
    _legacy_append(spark, base, [("cardano_blocks", 150), ("other", 5)])
    assert len(_ledger_objects(base)) == 2

    def state(path):
        reopened = _int_store(spark, path)
        return {t: reopened.read_values(t) for t in ("cardano_blocks", "other")}

    before = state(base)
    calls, crash_at, torn = [0], [0], [False]
    for name in ("put", "put_if_absent", "rename", "delete"):
        def wrapped(self, *a, _name=name, _orig=getattr(ObjectStore, name)):
            calls[0] += 1
            if calls[0] == crash_at[0]:
                if torn[0] and _name == "put_if_absent":
                    _orig(self, a[0], a[1][: len(a[1]) // 2])
                raise RuntimeError(f"injected crash at call {calls[0]}")
            return _orig(self, *a)

        monkeypatch.setattr(ObjectStore, name, wrapped)

    def run(path, k, half=False):
        shutil.copytree(base, path)
        calls[0], crash_at[0], torn[0] = 0, k, half
        try:
            _int_store(spark, path).upsert("cardano_blocks", 200)
        finally:
            crash_at[0] = 0

    clean = str(tmp_path / "clean")
    run(clean, 0)
    n_calls, after = calls[0], state(clean)
    assert n_calls == 3 and after != before
    expected = _ledger_rows(clean)
    cases = [(k, False) for k in range(1, n_calls + 1)] + [(1, True)]
    for k, half in cases:
        path = str(tmp_path / f"crash{k}{'torn' if half else ''}")
        with pytest.raises(RuntimeError, match="injected"):
            run(path, k, half)
        assert state(path) in (before, after), (k, half)
        _int_store(spark, path).upsert("cardano_blocks", 200)
        assert state(path) == after, (k, half)
        rows = _ledger_rows(path)
        assert rows.keys() == expected.keys(), (k, half)
        new = ("cardano_blocks", 200)
        assert {r: c for r, c in rows.items() if r != new} == {
            r: c for r, c in expected.items() if r != new
        }, (k, half)


def test_watermark_skips_a_truncated_newest_object(spark, tmp_path):
    store = _int_store(spark, str(tmp_path / "wm"))
    store.upsert("cardano_blocks", 1)
    store.upsert("cardano_blocks", 2)
    (name,) = _ledger_objects(store.path)
    with open(os.path.join(store.path, name), "rb") as f:
        body = f.read()
    with open(os.path.join(store.path, "00000000000000000002.parquet"), "wb") as f:
        f.write(body[: len(body) // 2])
    assert store.read_values("cardano_blocks") == {1, 2}
    store.upsert("cardano_blocks", 3)
    assert _ledger_objects(store.path) == ["00000000000000000003.parquet"]
    assert store.read_values("cardano_blocks") == {1, 2, 3}


def test_window_and_gate_logic():
    assert next_block_window(None, 2000) == (DEFAULT_START_BLOCK, DEFAULT_START_BLOCK + 1999)
    assert next_block_window(10, 5) == (11, 15)
    assert dependency_gate(None, None) is None  # parent never ran
    assert dependency_gate(None, 50) == (DEFAULT_START_BLOCK, 50) or dependency_gate(
        None, DEFAULT_START_BLOCK + 50
    ) == (DEFAULT_START_BLOCK, DEFAULT_START_BLOCK + 50)
    assert dependency_gate(50, 50) is None  # caught up
    assert dependency_gate(40, 50) == (41, 50)


def test_parquet_merge_sink(spark, tmp_path):
    sink = ParquetMergeSink(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    sink.merge(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    sink.merge(spark.createDataFrame([(2, "CHANGED"), (3, "c"), (3, "c2")], SCHEMA))
    rows = {r.k: r.v for r in sink.read().collect()}
    assert rows[1] == "a" and rows[2] == "b" and rows[3] in ("c", "c2")
    assert len(rows) == 3


def test_parquet_merge_sink_delete(spark, tmp_path):
    """Key-delete touches only buckets containing the keys, absent
    keys are a no-op, replay is idempotent, and a bucket emptied by
    the delete reads back empty (not an error)."""
    sink = ParquetMergeSink(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=4)
    sink.merge(
        spark.createDataFrame([(i, f"v{i}") for i in range(12)], SCHEMA)
    )
    dels = spark.createDataFrame([(2, "x"), (7, "x"), (99, "x")], SCHEMA)
    sink.delete(dels)
    rows = {r.k for r in sink.read().collect()}
    assert rows == set(range(12)) - {2, 7}
    sink.delete(dels)  # idempotent replay
    assert {r.k for r in sink.read().collect()} == set(range(12)) - {2, 7}
    # delete everything: table reads back empty, then accepts merges
    sink.delete(spark.createDataFrame([(i, "x") for i in range(12)], SCHEMA))
    assert sink.read().count() == 0
    # emptied buckets are REMOVED, not kept as empty placeholder dirs
    # (r9 ADVICE): no _bucket=K dirs remain after a full delete
    import os as _os

    assert not [
        d for d in _os.listdir(tmp_path / "t") if d.startswith("_bucket=")
    ]
    sink.merge(spark.createDataFrame([(42, "back")], SCHEMA))
    assert {r.k for r in sink.read().collect()} == {42}


def test_parquet_merge_sink_delete_before_create_is_noop(spark, tmp_path):
    sink = ParquetMergeSink(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    sink.delete(spark.createDataFrame([(1, "x")], SCHEMA))
    assert sink.read().count() == 0


def test_parquet_merge_sink_rejects_bucket_column(spark, tmp_path):
    """A schema partition-discovered from a live sink path carries the
    internal `_bucket` directory key as an int column (ADVICE r7);
    the constructor must reject it rather than persist it as data."""
    import pytest
    from pyspark.sql import types as T

    path = str(tmp_path / "t")
    sink = ParquetMergeSink(spark, path, SCHEMA, ["k"])
    sink.merge(spark.createDataFrame([(1, "a")], SCHEMA))
    discovered = spark.read.parquet(path).schema
    assert "_bucket" in discovered.fieldNames()  # the hazard is real
    with pytest.raises(ValueError, match="_bucket"):
        ParquetMergeSink(spark, path, discovered, ["k"])
    # the CLI strips it before constructing the sink
    stripped = T.StructType(
        [f for f in discovered.fields if f.name != "_bucket"]
    )
    reopened = ParquetMergeSink(spark, path, stripped, ["k"])
    assert {r.k for r in reopened.read().collect()} == {1}


def test_parquet_merge_sink_upsert_mode(spark, tmp_path):
    """upsert: incoming rows replace same-key rows, absent keys
    append, and replaying the same batch is a no-op."""
    sink = ParquetMergeSink(spark, str(tmp_path / "t"), SCHEMA, ["k"])
    sink.merge(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    sink.merge(spark.createDataFrame([(2, "B2"), (3, "c")], SCHEMA), mode="upsert")
    rows = {r.k: r.v for r in sink.read().collect()}
    assert rows == {1: "a", 2: "B2", 3: "c"}
    sink.merge(spark.createDataFrame([(2, "B2"), (3, "c")], SCHEMA), mode="upsert")
    assert {r.k: r.v for r in sink.read().collect()} == {1: "a", 2: "B2", 3: "c"}
    with pytest.raises(ValueError):
        sink.merge(spark.createDataFrame([], SCHEMA), mode="replace")


def test_stream_update_rollup_upsert_is_incremental_matview(spark, tmp_path):
    """Incremental materialized view: an update-mode streaming
    aggregation emits re-computed (hour, event_type) aggregate rows
    per microbatch; upserting each emission into the bucketed sink
    converges the stored rollup to the full batch recompute — the
    hypertable-continuous-aggregate pattern with merge I/O bounded by
    touched buckets, not table size."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from cardano_spark.catalog import table as cat_table
    from cardano_spark.streaming import jobs
    from tests.conftest import SF_SMALL

    d = str(tmp_path / "events_dir")
    os.makedirs(d)
    ev = cat_table(spark, SF_SMALL, "events")
    for name, part in (("a", ev.filter(F.col("event_id") % 2 == 0)),
                       ("b", ev.filter(F.col("event_id") % 2 == 1))):
        tmp = str(tmp_path / f"w_{name}")
        part.withColumn("ts", F.col("ts").cast("timestamp_ntz")).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        f = next(x for x in os.listdir(tmp) if x.endswith(".parquet"))
        shutil.copy(os.path.join(tmp, f), os.path.join(d, f"{name}_events.parquet"))

    rollup_schema = T.StructType(
        [
            T.StructField("hour", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    sink = ParquetMergeSink(
        spark, str(tmp_path / "rollup"), rollup_schema, ["hour", "event_type"]
    )

    raw = (
        spark.readStream.schema(jobs.EVENTS_RAW_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(d)
    )
    agg = jobs.hourly_rollup(jobs.normalize_event_ts(raw))

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(lambda b, _i: sink.merge(b, mode="upsert"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(
        map(tuple, sink.read().select(*[f.name for f in rollup_schema]).collect())
    )
    want = sorted(map(tuple, jobs.hourly_rollup(ev).collect()))
    assert got == want


def test_parquet_merge_sink_compact(spark, tmp_path):
    """Repeated merges accumulate files per bucket; compact rewrites
    each fat bucket to one file with identical contents and skips
    already-compact buckets."""
    import os

    sink = ParquetMergeSink(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=4)
    for i in range(4):
        sink.merge(
            spark.createDataFrame([(j, f"v{j}") for j in range(i * 20, i * 20 + 20)], SCHEMA)
        )
    before = {r.k: r.v for r in sink.read().select("k", "v").collect()}

    def files_in(b):
        d = os.path.join(str(tmp_path / "t"), f"_bucket={b}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert any(len(files_in(b)) > 1 for b in range(4))
    compacted = sink.compact()
    assert compacted  # something was fat
    for b in range(4):
        assert len(files_in(b)) == 1
    assert {r.k: r.v for r in sink.read().select("k", "v").collect()} == before
    assert sink.compact() == []  # second pass: nothing left to do


def test_parquet_merge_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """Insert I/O must be O(new rows): EVERY pre-existing data file
    stays BYTE-IDENTICAL after an insert (the new rows land in new
    files; only the manifest under `_log/` changes) — the property
    that makes an incremental merge into a 100 TB table affordable."""
    import hashlib
    import os

    def snapshot(root):
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                rel = os.path.relpath(p, root)
                if rel.split(os.sep)[0] == "_log":
                    continue
                with open(p, "rb") as fh:
                    out[rel] = hashlib.md5(fh.read()).hexdigest()
        return out

    path = str(tmp_path / "t")
    sink = ParquetMergeSink(spark, path, SCHEMA, ["k"], n_buckets=8)
    sink.merge(spark.createDataFrame([(i, f"v{i}") for i in range(40)], SCHEMA))
    before = snapshot(path)

    # incoming batch: one replayed key (a no-op) + one new key
    sink.merge(spark.createDataFrame([(3, "REPLAY"), (1000, "new")], SCHEMA))
    after = snapshot(path)

    assert before and {p: after.get(p) for p in before} == before
    assert len(after) > len(before)  # the new row went to a new file

    rows = {r.k: r.v for r in sink.read().collect()}
    assert rows[3] == "v3" and rows[1000] == "new" and len(rows) == 41


def test_db_upsert_sink_on_conflict(spark, tmp_path):
    """Tables are bootstrapped FROM the StructTypes (no hand-written
    DDL): the target via from_schema + ensure_target, the watermark
    table via ddl.ensure_tables on the real
    provider_to_s3_import_status schema — whose `table` column is a
    reserved word, exercising identifier quoting end-to-end."""
    from cardano_spark.sinks import ddl

    db = str(tmp_path / "t.duckdb")
    factory = lambda: duckdb.connect(db)  # noqa: E731

    sink = DBUpsertSink.from_schema(
        connection_factory=factory, table="target", schema=SCHEMA, keys=["k"]
    )
    sink.ensure_target()
    ddl.ensure_tables(factory(), tables=["provider_to_s3_import_status"])
    con = duckdb.connect(db)
    con.execute("INSERT INTO target VALUES (1, 'existing')")
    con.close()

    df = spark.createDataFrame([(1, "replayed"), (2, "new"), (2, "dup")], SCHEMA).withColumnRenamed("k", "k")
    sink.merge(
        df,
        watermark_sql=(
            "INSERT INTO provider_to_s3_import_status "
            "VALUES ('target', 2, now()::TIMESTAMP)"
        ),
        via_driver=True,
    )

    con = duckdb.connect(db)
    rows = dict(con.execute("SELECT k, v FROM target ORDER BY k").fetchall())
    assert rows == {1: "existing", 2: "new"} or rows == {1: "existing", 2: "dup"}
    assert (
        con.execute(
            "SELECT max(block_height) FROM provider_to_s3_import_status"
        ).fetchone()[0]
        == 2
    )
    assert (
        con.execute(
            "SELECT count(*) FROM information_schema.tables WHERE table_name LIKE 'staging%'"
        ).fetchone()[0]
        == 0
    )
    con.close()


def test_db_upsert_sink_do_update_mode(spark, tmp_path):
    """mode='upsert' generates ON CONFLICT DO UPDATE: same-key rows
    are replaced, absent keys insert — the DB-side twin of the
    parquet sink's incremental-materialized-view path."""
    db = str(tmp_path / "u.duckdb")
    sink = DBUpsertSink.from_schema(
        connection_factory=lambda: duckdb.connect(db),
        table="target",
        schema=SCHEMA,
        keys=["k"],
    )
    sink.ensure_target()
    con = duckdb.connect(db)
    con.execute("INSERT INTO target VALUES (1, 'old'), (3, 'keep')")
    con.close()
    df = spark.createDataFrame([(1, "NEW"), (2, "ins")], SCHEMA)
    sink.merge(df, via_driver=True, mode="upsert")

    con = duckdb.connect(db)
    assert dict(con.execute("SELECT k, v FROM target ORDER BY k").fetchall()) == {
        1: "NEW",
        2: "ins",
        3: "keep",
    }
    con.close()
    assert 'DO UPDATE SET "v" = excluded."v"' in sink.merge_sql("upsert")
    with pytest.raises(ValueError):
        sink.merge_sql("replace")
    # key-only tables degrade to DO NOTHING (nothing to update)
    keyonly = DBUpsertSink(lambda: None, "t", ["k"], ["k"])
    assert "DO NOTHING" in keyonly.merge_sql("upsert")


def test_db_upsert_sink_parallel_staging(spark, tmp_path):
    """The scale default (staging_parallelism=None) must write staging
    partitions executor-parallel: one connection per partition, no
    coalesce(1) funnel. sqlite file locking serializes writers safely,
    so it stands in for a server DB here."""
    import os
    import sqlite3
    import uuid as _uuid

    from cardano_spark.sinks.ddl import create_table_sql

    db = str(tmp_path / "t.sqlite")
    con = sqlite3.connect(db)
    con.execute(create_table_sql("target", SCHEMA, ["k"]))
    con.execute("INSERT INTO target VALUES (1, 'existing')")
    con.commit()
    con.close()

    marks = tmp_path / "conns"
    marks.mkdir()

    def factory():
        # one marker file per opened connection = per staged partition
        (marks / f"{os.getpid()}-{_uuid.uuid4().hex}").touch()
        c = sqlite3.connect(db, timeout=60)
        c.execute("PRAGMA busy_timeout=60000")
        return c

    sink = DBUpsertSink(
        connection_factory=factory, table="target", columns=["k", "v"], keys=["k"]
    )
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 101)], SCHEMA
    ).repartition(4)
    sink.merge(df)

    con = sqlite3.connect(db)
    rows = dict(con.execute("SELECT k, v FROM target ORDER BY k").fetchall())
    con.close()
    assert rows[1] == "existing" and len(rows) == 100
    # 4 staging partitions + 1 driver connection => >= 5 connections;
    # the old coalesce(1) default would open exactly 2
    assert len(list(marks.iterdir())) >= 5


# --------------------------------------------------------------------------
# StructType -> DDL bootstrap (sinks/ddl.py)
# --------------------------------------------------------------------------


def test_ddl_bootstrap_creates_full_warehouse(tmp_path):
    """The Alembic-equivalent: every target + watermark table springs
    from its StructType, idempotently (IF NOT EXISTS), with the
    reserved-word `table` column quoted — verified by actually
    creating and querying the warehouse on duckdb."""
    from cardano_spark import schemas
    from cardano_spark.sinks import ddl

    con = duckdb.connect(str(tmp_path / "wh.duckdb"))
    ddl.ensure_tables(con)
    ddl.ensure_tables(con)  # idempotent second run must not raise

    made = {
        r[0]
        for r in con.execute(
            "SELECT table_name FROM information_schema.tables"
        ).fetchall()
    }
    assert made >= set(schemas.TARGET_SCHEMAS)

    # reserved-word column round-trips through quoting
    con.execute(
        "INSERT INTO provider_to_s3_import_status VALUES"
        " ('cardano_blocks', 7, now()::TIMESTAMP)"
    )
    assert (
        con.execute(
            'SELECT "table", block_height FROM provider_to_s3_import_status'
        ).fetchone()[0]
        == "cardano_blocks"
    )
    # PK enforcement came from PRIMARY_KEYS
    with pytest.raises(duckdb.ConstraintException):
        con.execute(
            "INSERT INTO cardano_blocks (time, height, hash, slot,"
            " slot_leader, size, tx_count, confirmations, created_at)"
            " VALUES (now()::TIMESTAMP, 1, 'h', 1, 'l', 1, 1, 1,"
            " now()::TIMESTAMP),"
            " (now()::TIMESTAMP, 1, 'h2', 2, 'l', 1, 1, 1, now()::TIMESTAMP)"
        )
    con.close()


def test_ddl_dialect_mapping():
    from cardano_spark import schemas
    from cardano_spark.sinks import ddl

    arr = T.ArrayType(T.StringType())
    assert ddl.sql_type(arr, "postgres") == "TEXT[]"
    assert ddl.sql_type(arr, "ansi") == "VARCHAR"  # text-codec column
    assert ddl.sql_type(T.DecimalType(38, 0), "postgres") == "NUMERIC(38,0)"
    assert ddl.sql_type(T.BinaryType(), "postgres") == "BYTEA"
    assert ddl.sql_type(T.DoubleType(), "postgres") == "DOUBLE PRECISION"
    with pytest.raises(ValueError):
        ddl.sql_type(T.StringType(), "oracle")
    with pytest.raises(ValueError):
        ddl.sql_type(T.MapType(T.StringType(), T.StringType()))

    sql = ddl.create_table_sql(
        "cardano_block_transactions",
        schemas.CARDANO_BLOCK_TRANSACTIONS,
        schemas.PRIMARY_KEYS["cardano_block_transactions"],
        dialect="postgres",
    )
    assert '"tx_hash" TEXT[] NOT NULL' in sql
    assert 'PRIMARY KEY ("block")' in sql

    with pytest.raises(ValueError):
        ddl.create_table_sql("t", schemas.CARDANO_BLOCKS, keys=["nope"])


def test_dedup_by_key_deterministic_survivor(spark):
    """Conflicting same-key rows collapse to the smallest non-key
    tuple (nulls first) — the batch-internal dedup is a pure function
    of batch contents, not of partition scheduling."""
    from cardano_spark.sinks.merge import dedup_by_key

    df = spark.createDataFrame(
        [(1, "b"), (1, "a"), (1, None), (2, "z")], SCHEMA
    ).repartition(7)
    got = {(r.k, r.v) for r in dedup_by_key(df, ["k"]).collect()}
    assert got == {(1, None), (2, "z")}

    # key-only frames fall back to plain dropDuplicates
    ids = spark.createDataFrame([(1,), (1,), (2,)], "k long")
    assert dedup_by_key(ids, ["k"]).count() == 2


def test_parquet_merge_upsert_deterministic_with_conflicting_batch(spark, tmp_path):
    sink = ParquetMergeSink(
        spark, str(tmp_path / "t"), SCHEMA, keys=["k"], n_buckets=4
    )
    batch = spark.createDataFrame(
        [(1, "x"), (1, "w"), (2, "q")], SCHEMA
    ).repartition(5)
    sink.merge(batch, mode="upsert")
    assert {(r.k, r.v) for r in sink.read().collect()} == {(1, "w"), (2, "q")}


# --------------------------------------------------------------------------
# Bucket-count evolution (rebucket) + size-targeted compaction
# --------------------------------------------------------------------------


def test_rebucket_grows_table_byte_identical(spark, tmp_path):
    """Grow a live table 4 -> 8 buckets: row content is identical,
    the new layout is real (8 bucket dirs), the bucket count persists
    in table meta (a NEW sink built with a stale constructor arg picks
    up 8), and post-rebucket merges keep working bucket-locally."""
    import os

    path = str(tmp_path / "t")
    sink = ParquetMergeSink(spark, path, SCHEMA, keys=["k"], n_buckets=4)
    sink.merge(spark.createDataFrame([(i, f"v{i}") for i in range(50)], SCHEMA))
    before = sorted(map(tuple, sink.read().collect()))

    sink.rebucket(8)
    assert sink.n_buckets == 8
    dirs = {d for d in os.listdir(path) if d.startswith("_bucket=")}
    assert len(dirs) > 4  # keys actually spread over the new space
    assert sorted(map(tuple, sink.read().collect())) == before

    stale = ParquetMergeSink(spark, path, SCHEMA, keys=["k"], n_buckets=4)
    assert stale.n_buckets == 8  # meta wins over the constructor arg
    stale.merge(spark.createDataFrame([(100, "new"), (3, "dup")], SCHEMA))
    rows = {r.k: r.v for r in stale.read().collect()}
    assert rows[100] == "new" and rows[3] == "v3" and len(rows) == 51

    # no-op and validation paths
    sink.rebucket(8)
    with pytest.raises(ValueError):
        sink.rebucket(0)


def test_compact_size_targeted(spark, tmp_path):
    """target_file_bytes splits a fat bucket into ~ceil(bytes/target)
    files instead of one; content unchanged."""
    import os

    path = str(tmp_path / "t")
    sink = ParquetMergeSink(spark, path, SCHEMA, keys=["k"], n_buckets=1)
    for batch in range(6):  # 6 merges -> many files in bucket 0
        sink.merge(
            spark.createDataFrame(
                [(batch * 100 + i, "x" * 200) for i in range(50)], SCHEMA
            )
        )
    before = sorted(map(tuple, sink.read().collect()))
    n_files, n_bytes = sink._bucket_stats(0)
    assert n_files >= 6
    target = max(1, n_bytes // 3)  # aim for ~3 files
    assert sink.compact(target_file_bytes=target) == [0]
    after_files, _ = sink._bucket_stats(0)
    assert 1 < after_files <= 6
    assert sorted(map(tuple, sink.read().collect())) == before
    # already-compacted bucket is left alone on a second pass
    assert sink.compact(target_file_bytes=target) == []


def test_rebucket_chain_random_counts(spark, tmp_path):
    """Content survives an arbitrary chain of bucket-count
    transitions (grow, shrink, repeat), with merges interleaved."""
    import random

    rng = random.Random(4)
    sink = ParquetMergeSink(spark, str(tmp_path / "t"), SCHEMA, ["k"], n_buckets=3)
    rows = {}
    next_k = 0
    for n in [7, 2, 5, 16, 3]:
        batch = [(next_k + i, f"v{next_k + i}") for i in range(rng.randint(5, 30))]
        next_k += len(batch)
        rows.update(dict(batch))
        sink.merge(spark.createDataFrame(batch, SCHEMA))
        sink.rebucket(n)
        assert sink.n_buckets == n
        assert {(r.k, r.v) for r in sink.read().collect()} == set(rows.items())


def test_cli_maintain_compact_and_rebucket(spark, tmp_path, capsys):
    """The `maintain` CLI subcommand reaches compact/rebucket (the
    operational runbook step): build a fragmented merge-sink table,
    run `maintain --compact --rebucket`, and verify the table is
    byte-identical with the new layout."""
    import os

    from cardano_spark.__main__ import main

    path = str(tmp_path / "t")
    sink = ParquetMergeSink(spark, path, SCHEMA, ["k"], n_buckets=4)
    for i in range(4):
        sink.merge(
            spark.createDataFrame(
                [(j, f"v{j}") for j in range(i * 20, i * 20 + 20)], SCHEMA
            )
        )
    before = {r.k: r.v for r in sink.read().select("k", "v").collect()}

    rc = main(
        ["maintain", "--path", path, "--keys", "k",
         "--rebucket", "8", "--compact"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "rebucketed" in out and "compacted" in out
    reopened = ParquetMergeSink(spark, path, SCHEMA, ["k"])
    assert reopened.n_buckets == 8
    assert {
        r.k: r.v for r in reopened.read().select("k", "v").collect()
    } == before
    for b in range(8):
        d = os.path.join(path, f"_bucket={b}")
        if os.path.isdir(d):
            assert (
                len([f for f in os.listdir(d) if f.endswith(".parquet")])
                == 1
            )


# --------------------------------------------------------------------------
# Manifest commit protocol: crash points, the on-disk invariant, reads
# --------------------------------------------------------------------------


def _committed(path):
    """The live file list of the table's latest version; at rest the
    log holds exactly one version."""
    import json

    log = os.path.join(path, "_log")
    names = sorted(n for n in os.listdir(log) if n.endswith(".json"))
    assert len(names) == 1, names
    with open(os.path.join(log, names[0])) as f:
        return set(json.load(f)["files"]), int(names[0].split(".")[0])


def _on_disk(path):
    import glob

    return {
        os.path.relpath(p, path)
        for p in glob.glob(os.path.join(path, "_bucket=*", "*.parquet"))
    }


def _state(sink):
    """Rows, bucket count and number of committed files: compact
    changes only the last."""
    rows = sorted(map(tuple, sink.read().collect()))
    return rows, sink.n_buckets, len(_committed(sink.path)[0])


_SINK_OPS = {
    "insert": lambda s, spark: s.merge(
        spark.createDataFrame([(i, f"n{i}") for i in range(25, 45)], SCHEMA)
    ),
    "upsert": lambda s, spark: s.merge(
        spark.createDataFrame([(i, f"u{i}") for i in range(20, 40)], SCHEMA),
        mode="upsert",
    ),
    "delete": lambda s, spark: s.delete(
        spark.createDataFrame([(i, "x") for i in range(0, 30, 3)], SCHEMA)
    ),
    "compact": lambda s, spark: s.compact(),
    "rebucket": lambda s, spark: s.rebucket(5),
}


@pytest.mark.parametrize("op", sorted(_SINK_OPS))
def test_merge_sink_crash_at_every_object_store_call(spark, tmp_path, monkeypatch, op):
    """For every k, the k-th ObjectStore mutation of the operation
    raises. A reopened table then reads as the state before the
    operation or the state after it, its bucket directories hold
    exactly the committed files, and a replay converges to the
    uninterrupted run."""
    import shutil

    from cardano_spark.sources.objectstore import ObjectStore

    base = str(tmp_path / "base")
    sink = ParquetMergeSink(spark, base, SCHEMA, ["k"], n_buckets=3)
    for lo in (0, 15):  # two inserts: several files per bucket
        sink.merge(spark.createDataFrame([(i, f"v{i}") for i in range(lo, lo + 15)], SCHEMA))
    before = _state(sink)

    calls = [0]
    crash_at = [0]
    for name in ("put", "put_if_absent", "rename", "delete"):
        def wrapped(self, *a, _orig=getattr(ObjectStore, name)):
            calls[0] += 1
            if calls[0] == crash_at[0]:
                raise RuntimeError(f"injected crash at call {calls[0]}")
            return _orig(self, *a)

        monkeypatch.setattr(ObjectStore, name, wrapped)

    def run(path, k):
        shutil.copytree(base, path)
        calls[0], crash_at[0] = 0, k
        table = ParquetMergeSink(spark, path, SCHEMA, ["k"], n_buckets=3)
        try:
            _SINK_OPS[op](table, spark)
        finally:
            crash_at[0] = 0
        return table

    clean = run(str(tmp_path / "clean"), 0)
    n_calls, after = calls[0], _state(clean)
    assert n_calls >= 2 and after != before
    for k in range(1, n_calls + 1):
        path = str(tmp_path / f"crash{k}")
        with pytest.raises(RuntimeError, match="injected"):
            run(path, k)
        reopened = ParquetMergeSink(spark, path, SCHEMA, ["k"], n_buckets=3)
        assert _state(reopened) in (before, after), k
        assert _on_disk(path) == _committed(path)[0], k
        _SINK_OPS[op](reopened, spark)
        assert _state(reopened) == after, k
        assert _on_disk(path) == _committed(path)[0], k


def test_merge_sink_disk_matches_manifest_after_every_mutation(spark, tmp_path):
    """When any mutation returns, the `_bucket=*/*.parquet` files on
    disk are exactly the latest version's list: no file left over from
    a rewrite, none uncommitted, and no stage directory."""
    path = str(tmp_path / "t")
    sink = ParquetMergeSink(spark, path, SCHEMA, ["k"], n_buckets=4)
    steps = [
        lambda: sink.merge(spark.createDataFrame([(i, f"v{i}") for i in range(30)], SCHEMA)),
        lambda: sink.merge(spark.createDataFrame([(i, f"w{i}") for i in range(20, 50)], SCHEMA)),
        lambda: sink.compact(),
        lambda: sink.merge(spark.createDataFrame([(5, "u"), (60, "u")], SCHEMA), mode="upsert"),
        lambda: sink.delete(spark.createDataFrame([(i, "x") for i in range(10)], SCHEMA)),
        lambda: sink.rebucket(6),
        lambda: sink.merge(spark.createDataFrame([(7, "back")], SCHEMA)),
    ]
    version = -1
    for step in steps:
        step()
        files, v = _committed(path)
        assert _on_disk(path) == files and v > version
        assert not os.path.exists(os.path.join(path, "_stage"))
        version = v
    assert sink.read().count() == 42


def test_merge_sink_read_of_many_files_runs_no_spark_job(spark, tmp_path, count_jobs):
    """read() scans the bucket directories, not the committed file
    list: past 32 explicit paths Spark would list them in a job. A
    table with more than 32 data files and more than 8 versions still
    reads with zero jobs."""
    path = str(tmp_path / "t")
    sink = ParquetMergeSink(spark, path, SCHEMA, ["k"], n_buckets=4)
    for batch in range(10):
        sink.merge(
            spark.createDataFrame([(batch * 100 + i, "v") for i in range(40)], SCHEMA)
        )
    files, version = _committed(path)
    assert len(files) > 32 and version > 8
    df, jobs = count_jobs(sink.read)
    assert jobs == 0
    assert df.count() == 400


def test_merge_sink_adopts_a_table_written_before_the_manifest(spark, tmp_path):
    """A table from before the manifest (bucket directories plus
    `_table_meta.json`, no `_log/`) opens with its own bucket count,
    reads as its directories, and its first mutation adopts the files
    it finds into a version without rewriting them."""
    import hashlib
    import json

    path = str(tmp_path / "t")
    rows = [(i, f"v{i}") for i in range(30)]
    (
        spark.createDataFrame(rows, SCHEMA)
        .withColumn("_bucket", F.pmod(F.xxhash64("k"), F.lit(5)).cast("int"))
        .write.partitionBy("_bucket")
        .parquet(path)
    )
    with open(os.path.join(path, "_table_meta.json"), "w") as f:
        json.dump({"n_buckets": 5}, f)
    old = {p: hashlib.md5(open(os.path.join(path, p), "rb").read()).hexdigest() for p in _on_disk(path)}

    sink = ParquetMergeSink(spark, path, SCHEMA, ["k"])  # stale default 16
    assert sink.n_buckets == 5
    assert sorted(map(tuple, sink.read().collect())) == rows
    assert not os.path.exists(os.path.join(path, "_log"))  # reads commit nothing

    sink.merge(spark.createDataFrame([(3, "dup"), (100, "new")], SCHEMA))
    files, _ = _committed(path)
    assert set(old) < files and _on_disk(path) == files
    for p, h in old.items():
        assert hashlib.md5(open(os.path.join(path, p), "rb").read()).hexdigest() == h
    reopened = ParquetMergeSink(spark, path, SCHEMA, ["k"])
    assert reopened.n_buckets == 5
    assert {r.k: r.v for r in reopened.read().collect()} == {**dict(rows), 100: "new"}


def test_merge_sink_adopts_a_pre_manifest_table_without_meta_as_16_buckets(spark, tmp_path):
    """A pre-manifest table with no `_table_meta.json` was written with
    16 buckets. It is adopted with 16 whatever the constructor default,
    so replaying an insert of its own keys finds every one of them and
    adds no row."""
    path = str(tmp_path / "t")
    rows = [(i, f"v{i}") for i in range(100)]
    (
        spark.createDataFrame(rows, SCHEMA)
        .withColumn("_bucket", F.pmod(F.xxhash64("k"), F.lit(16)).cast("int"))
        .write.partitionBy("_bucket")
        .parquet(path)
    )
    assert len({p.split(os.sep)[0] for p in _on_disk(path)}) == 16
    assert not os.path.exists(os.path.join(path, "_log"))

    sink = ParquetMergeSink(spark, path, SCHEMA, ["k"])
    assert sink.n_buckets == 16
    sink.merge(spark.createDataFrame([(k, "replay") for k, _ in rows], SCHEMA))
    assert sorted(map(tuple, sink.read().collect())) == rows
    reopened = ParquetMergeSink(spark, path, SCHEMA, ["k"])
    assert reopened.n_buckets == 16
    assert sorted(map(tuple, reopened.read().collect())) == rows


# --------------------------------------------------------------------------
# Bucket count sized to the data: growth, its crash safety, job budgets
# --------------------------------------------------------------------------

_SPLIT = "spark.sql.files.maxPartitionBytes"


def _rows(lo, hi):
    """Rows whose values barely compress, so file bytes track rows."""
    import hashlib

    return [(i, hashlib.sha256(str(i).encode()).hexdigest()) for i in range(lo, hi)]


def _bucket_of_every_row_matches(spark, path, n):
    laid = spark.read.parquet(path)
    return laid.filter(
        F.col("_bucket") != F.pmod(F.xxhash64("k"), F.lit(n))
    ).count() == 0


def test_merge_sink_grows_to_one_split_per_bucket(spark, tmp_path, monkeypatch):
    """A one-bucket table passes twice the scan split: the insert that
    crosses it rebuckets the table in one further version to
    ceil(bytes / split) buckets, with the same rows, the disk equal to
    the manifest, the count durable, and the next insert routed by the
    new count without duplicating a key."""
    import math

    path = str(tmp_path / "t")
    grown = []
    rebucket = ParquetMergeSink.rebucket

    def spy(self, new_n):
        grown.append((sum(self._roll_forward().values()), new_n))
        return rebucket(self, new_n)

    monkeypatch.setattr(ParquetMergeSink, "rebucket", spy)
    split = 4096
    saved = spark.conf.get(_SPLIT)
    spark.conf.set(_SPLIT, str(split))
    try:
        sink = ParquetMergeSink(spark, path, SCHEMA, ["k"])
        rows, lo = [], 0
        while sink.n_buckets == 1:
            assert lo < 2000, "the table never grew"
            _, version = _committed(path) if lo else (None, -1)
            batch = _rows(lo, lo + 40)
            sink.merge(spark.createDataFrame(batch, SCHEMA))
            rows += batch
            lo += 40
        size, n = grown[0]
        assert len(grown) == 1 and size > 2 * split
        assert n == math.ceil(size / split) == sink.n_buckets > 1
        files, v = _committed(path)
        assert v == version + 2  # the insert, then one rebucket version
        assert _on_disk(path) == files
        assert sorted(map(tuple, sink.read().collect())) == rows
        assert _bucket_of_every_row_matches(spark, path, n)

        reopened = ParquetMergeSink(spark, path, SCHEMA, ["k"])
        assert reopened.n_buckets == n
        reopened.merge(
            spark.createDataFrame([(0, "dup"), (1, "dup")] + _rows(lo, lo + 5), SCHEMA)
        )
        assert reopened.n_buckets == n and len(grown) == 1
        assert sorted(map(tuple, reopened.read().collect())) == rows + _rows(lo, lo + 5)
        assert _on_disk(path) == _committed(path)[0]
        assert _bucket_of_every_row_matches(spark, path, n)
    finally:
        spark.conf.set(_SPLIT, saved)


@pytest.mark.parametrize("grow", [False, True], ids=["one_bucket_insert", "insert_that_grows"])
def test_merge_sink_sized_insert_crash_at_every_object_store_call(
    spark, tmp_path, monkeypatch, grow
):
    """The checks of test_merge_sink_crash_at_every_object_store_call
    for the inserts a sized table runs: a one-bucket insert, and an
    insert that crosses two scan splits and so rebuckets in the same
    call. The latter commits two versions, so a crash between them
    leaves the inserted, not yet grown table, which a replay grows."""
    import shutil

    from cardano_spark.sources.objectstore import ObjectStore

    base = str(tmp_path / "base")
    sink = ParquetMergeSink(spark, base, SCHEMA, ["k"])
    for lo in (0, 30):
        sink.merge(spark.createDataFrame(_rows(lo, lo + 30), SCHEMA))
    before = _state(sink)
    insert = spark.createDataFrame(_rows(60, 120), SCHEMA)

    calls = [0]
    crash_at = [0]
    for name in ("put", "put_if_absent", "rename", "delete"):
        def wrapped(self, *a, _orig=getattr(ObjectStore, name)):
            calls[0] += 1
            if calls[0] == crash_at[0]:
                raise RuntimeError(f"injected crash at call {calls[0]}")
            return _orig(self, *a)

        monkeypatch.setattr(ObjectStore, name, wrapped)

    def run(path, k):
        shutil.copytree(base, path)
        calls[0], crash_at[0] = 0, k
        table = ParquetMergeSink(spark, path, SCHEMA, ["k"])
        try:
            table.merge(insert)
        finally:
            crash_at[0] = 0
        return table

    inserted = _state(run(str(tmp_path / "inserted"), 0))
    saved = spark.conf.get(_SPLIT)
    if grow:
        # twice the split lies between the table's bytes before the
        # insert and after it
        split = sum(ParquetMergeSink(spark, base, SCHEMA, ["k"])._roll_forward().values())
        spark.conf.set(_SPLIT, str(split // 2 + 1))
    try:
        clean = run(str(tmp_path / "clean"), 0)
        n_calls, after = calls[0], _state(clean)
        assert n_calls >= 2 and after != before
        assert (after[1] > 1) == grow and (after == inserted) != grow
        for k in range(1, n_calls + 1):
            path = str(tmp_path / f"crash{k}")
            with pytest.raises(RuntimeError, match="injected"):
                run(path, k)
            reopened = ParquetMergeSink(spark, path, SCHEMA, ["k"])
            assert _state(reopened) in (before, inserted, after), k
            assert _on_disk(path) == _committed(path)[0], k
            reopened.merge(insert)
            assert _state(reopened) == after, k
            assert _on_disk(path) == _committed(path)[0], k
    finally:
        spark.conf.set(_SPLIT, saved)


def test_insert_job_budget_one_bucket_and_above(spark, tmp_path, count_jobs):
    """A 250-row insert into a one-bucket table holding rows is the
    bucket shuffle, the broadcast of the existing keys and the write: 3
    jobs and one staged file. Above one bucket the touched-bucket
    collect over the cached batch comes first: 5 jobs."""
    for n_buckets, budget in ((1, 3), (4, 5)):
        path = str(tmp_path / f"t{n_buckets}")
        sink = ParquetMergeSink(spark, path, SCHEMA, ["k"], n_buckets=n_buckets)
        sink.merge(spark.createDataFrame(_rows(0, 250), SCHEMA))
        batch = spark.createDataFrame(_rows(250, 500), SCHEMA)
        before = _on_disk(path)
        _, jobs = count_jobs(lambda: sink.merge(batch))
        assert sink.read().count() == 500
        if n_buckets == 1:
            assert jobs <= budget, jobs
            assert len(_on_disk(path) - before) == 1
        else:
            assert jobs == budget, jobs


def test_one_bucket_empty_insert_commits_nothing(spark, tmp_path, count_jobs):
    """An empty insert into a one-bucket table skips the touched-bucket
    collect, so it runs the write's 3 jobs (the 16-bucket path returned
    after its 2-job collect) and stages no file, commits no version and
    leaves no `_stage`. Only a replayed empty batch reaches it."""
    path = str(tmp_path / "t")
    sink = ParquetMergeSink(spark, path, SCHEMA, ["k"])
    sink.merge(spark.createDataFrame(_rows(0, 50), SCHEMA))
    files, version = _committed(path)
    _, jobs = count_jobs(lambda: sink.merge(spark.createDataFrame([], SCHEMA)))
    assert jobs <= 3, jobs
    assert _committed(path) == (files, version)
    assert _on_disk(path) == files
    assert not os.path.exists(os.path.join(path, "_stage"))
