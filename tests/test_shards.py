"""Training-shard export: bounded, deterministic, manifest-backed."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from cardano_spark.catalog import table
from cardano_spark.functions.hashing import md5_long
from cardano_spark.sinks.shards import read_manifest, write_training_shards
from tests.conftest import SF_SMALL


def _docs_with_key(spark):
    d = table(spark, SF_SMALL, "documents").select("doc_id", "text")
    return d.withColumn(
        "shard_key", md5_long(F.concat(F.lit("shard|"), F.col("doc_id").cast("string")))
    )


def test_write_training_shards_manifest_and_bounds(spark, tmp_path):
    df = _docs_with_key(spark)
    n_in = df.count()
    out = str(tmp_path / "shards")
    m = write_training_shards(df, out, "shard_key", n_shards=4, max_rows_per_file=100)
    # every row lands exactly once
    assert m.n_rows == n_in
    back = spark.read.parquet(out)
    assert back.count() == n_in
    assert back.select("doc_id").distinct().count() == n_in
    # size discipline
    assert all(s["rows"] <= 100 for s in m.shards)
    assert all(s["bytes"] > 0 for s in m.shards)
    # manifest round-trips and matches the listing
    m2 = read_manifest(out)
    assert m2.shards == m.shards and m2.n_rows == m.n_rows
    # the Hadoop-FS read route (object-store schemes) agrees
    assert read_manifest(out, spark).shards == m.shards
    assert len(m.shards) == len(
        [f for f in os.listdir(out) if f.endswith(".parquet")]
    )


def test_write_training_shards_deterministic_membership(spark, tmp_path):
    df = _docs_with_key(spark)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(df, a, "shard_key", n_shards=3)
    # second run over a REPARTITIONED (differently ordered) input
    write_training_shards(df.repartition(7), b, "shard_key", n_shards=3)

    def membership(path):
        rows = (
            spark.read.parquet(path)
            .select(F.input_file_name().alias("f"), "doc_id")
            .collect()
        )
        # normalize shard identity by the set's sorted position
        by_file: dict[str, list] = {}
        for r in rows:
            by_file.setdefault(r["f"].rsplit("/", 1)[-1], []).append(r["doc_id"])
        return sorted(tuple(sorted(v)) for v in by_file.values())

    assert membership(a) == membership(b)


def test_shards_internally_sorted(spark, tmp_path):
    df = _docs_with_key(spark)
    out = str(tmp_path / "s")
    write_training_shards(df, out, "shard_key", n_shards=2)
    rows = (
        spark.read.parquet(out)
        .select(F.input_file_name().alias("f"), "shard_key")
        .collect()
    )
    by_file: dict[str, list] = {}
    for r in rows:
        by_file.setdefault(r["f"], []).append(r["shard_key"])
    for ks in by_file.values():
        assert ks == sorted(ks)


def test_cli_export_shards(spark, tmp_path):
    from cardano_spark.__main__ import main

    dest = str(tmp_path / "out")
    rc = main(
        [
            "export-shards",
            "--src", f"{SF_SMALL}/documents.parquet",
            "--dest", dest,
            "--key", "doc_id",
            "--shards", "3",
        ]
    )
    assert rc == 0
    m = read_manifest(dest)
    assert m.n_rows == spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()


def test_write_training_shards_empty_input(spark, tmp_path):
    import pyspark.sql.functions as F

    df = _docs_with_key(spark).filter(F.lit(False))
    out = str(tmp_path / "empty")
    m = write_training_shards(df, out, "shard_key", n_shards=3)
    assert m.n_rows == 0
    assert read_manifest(out).n_rows == 0
    assert spark.read.parquet(out).count() == 0  # schema-bearing empty table


def _shard_of(doc_id: int, n: int) -> int:
    import hashlib

    h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
    return h % n


def _dir_state(path):
    import os

    out = {}
    for d in os.listdir(path):
        if d.startswith("_shard="):
            files = sorted(os.listdir(os.path.join(path, d)))
            out[d] = [
                (f, os.path.getmtime(os.path.join(path, d, f)))
                for f in files
                if f.endswith(".parquet")
            ]
    return out


def test_incremental_export_rewrites_only_changed_shards(spark, tmp_path):
    from cardano_spark.sinks.shards import (
        read_manifest,
        write_training_shards_incremental,
    )

    dest = str(tmp_path / "inc")
    rows = [(i, f"text {i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r1 = write_training_shards_incremental(df, dest, "doc_id", 4)
    assert r1.n_rewritten == len(
        {_shard_of(i, 4) for i in range(60)}
    )  # first run writes every non-empty shard
    assert r1.manifest.n_rows == 60
    state1 = _dir_state(dest)

    # identical re-run: nothing rewritten, no file touched
    r2 = write_training_shards_incremental(df, dest, "doc_id", 4)
    assert r2.n_rewritten == 0 and r2.n_deleted == 0
    assert _dir_state(dest) == state1
    assert r2.manifest.n_rows == 60

    # one-doc edit: exactly that doc's shard rewritten
    rows3 = [(i, f"text {i}" if i != 17 else "EDITED") for i in range(60)]
    df3 = spark.createDataFrame(rows3, "doc_id long, text string")
    r3 = write_training_shards_incremental(df3, dest, "doc_id", 4)
    target = _shard_of(17, 4)
    assert r3.rewritten == [target]
    state3 = _dir_state(dest)
    for d, files in state1.items():
        if d == f"_shard={target}":
            assert state3[d] != files
        else:
            assert state3[d] == files, d
    # read-back integrity
    back = spark.read.parquet(dest)
    assert back.count() == 60
    assert back.filter("doc_id = 17").select("text").collect()[0][0] == "EDITED"
    m = read_manifest(dest)
    assert m.n_rows == 60 and all("digest" in s for s in m.shards)


def test_manifest_write_failure_keeps_previous_manifest(spark, tmp_path, monkeypatch):
    """The manifest is published write-temp-then-rename: a crash after
    the temp write leaves the previous manifest readable (an in-place
    overwrite would leave it torn, and every later delta would raise)."""
    import pytest

    from cardano_spark.sinks.shards import write_training_shards_incremental
    from cardano_spark.sources.objectstore import ObjectStore

    dest = str(tmp_path / "inc")
    schema = "doc_id long, text string"
    df = spark.createDataFrame([(i, f"text {i}") for i in range(40)], schema)
    first = write_training_shards_incremental(df, dest, "doc_id", 4).manifest

    def crash(self, src, dst):
        raise RuntimeError("injected crash before the rename")

    monkeypatch.setattr(ObjectStore, "rename", crash)
    grown = spark.createDataFrame([(i, f"text {i}") for i in range(60)], schema)
    with pytest.raises(RuntimeError, match="injected"):
        write_training_shards_incremental(grown, dest, "doc_id", 4)
    assert os.path.exists(os.path.join(dest, "_manifest.json.tmp"))
    assert read_manifest(dest) == first
    assert read_manifest(dest, spark) == first
    monkeypatch.undo()
    assert write_training_shards_incremental(grown, dest, "doc_id", 4).manifest.n_rows == 60
    assert read_manifest(dest).n_rows == 60


def test_incremental_export_deletes_emptied_shards(spark, tmp_path):
    import os

    from cardano_spark.sinks.shards import write_training_shards_incremental

    dest = str(tmp_path / "inc")
    rows = [(i, f"t {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    write_training_shards_incremental(df, dest, "doc_id", 4)
    victim = _shard_of(0, 4)
    survivors = [r for r in rows if _shard_of(r[0], 4) != victim]
    df2 = spark.createDataFrame(survivors, "doc_id long, text string")
    r2 = write_training_shards_incremental(df2, dest, "doc_id", 4)
    assert r2.n_deleted == 1
    assert not os.path.exists(os.path.join(dest, f"_shard={victim}"))
    assert spark.read.parquet(dest).count() == len(survivors)
    assert r2.manifest.n_rows == len(survivors)


def test_cli_export_shards_incremental(spark, tmp_path, capsys):
    from cardano_spark.__main__ import main

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"d {i}") for i in range(30)], "doc_id long, text string"
    ).write.parquet(src)
    dest = str(tmp_path / "out")
    rc = main(
        [
            "export-shards", "--src", src, "--dest", dest,
            "--key", "doc_id", "--shards", "3", "--incremental",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "/3 shards" in out and "30 rows" in out
    rc = main(
        [
            "export-shards", "--src", src, "--dest", dest,
            "--key", "doc_id", "--shards", "3", "--incremental",
        ]
    )
    assert rc == 0
    assert "wrote 0/3 shards" in capsys.readouterr().out


def test_delta_export_equals_full_recompute(spark, tmp_path):
    """r8 headline: the |new|-bounded delta exporter must land the
    SAME manifest (digests, rows, shard set) and the same read-back
    content as a full write_training_shards_incremental recompute
    over the updated corpus — the two are interchangeable per run."""
    from cardano_spark.sinks.shards import (
        read_manifest,
        write_training_shards_delta,
        write_training_shards_incremental,
    )

    dest = str(tmp_path / "delta")
    base = [(i, f"text {i}") for i in range(80)]
    df = spark.createDataFrame(base, "doc_id long, text string")
    write_training_shards_incremental(df, dest, "doc_id", 4)
    state1 = _dir_state(dest)

    # delta: 3 upserts (1 update, 2 inserts) + 2 deletes
    ups = spark.createDataFrame(
        [(17, "EDITED"), (100, "new a"), (101, "new b")],
        "doc_id long, text string",
    )
    dels = spark.createDataFrame([(3,), (55,)], "doc_id long")
    r = write_training_shards_delta(
        ups, dest, "doc_id", 4, delete_keys=dels
    )
    touched = {_shard_of(i, 4) for i in (17, 100, 101, 3, 55)}
    assert set(r.rewritten) <= touched and r.n_rewritten >= 1

    # untouched shards: not a byte moved
    state2 = _dir_state(dest)
    for d, files in state1.items():
        if int(d.split("=")[1]) not in touched:
            assert state2[d] == files, d

    # full recompute over the updated corpus in a fresh dir
    updated = {i: t for i, t in base}
    updated[17] = "EDITED"
    updated[100], updated[101] = "new a", "new b"
    del updated[3], updated[55]
    full_dest = str(tmp_path / "full")
    write_training_shards_incremental(
        spark.createDataFrame(
            sorted(updated.items()), "doc_id long, text string"
        ),
        full_dest,
        "doc_id",
        4,
    )
    md, mf = read_manifest(dest), read_manifest(full_dest)
    assert md.n_rows == mf.n_rows == len(updated)
    assert {s["shard_id"]: s["digest"] for s in md.shards} == {
        s["shard_id"]: s["digest"] for s in mf.shards
    }
    back = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(dest).select("doc_id", "text").collect()
    }
    assert back == updated


def test_delta_export_noop_and_missing_baseline(spark, tmp_path):
    from cardano_spark.sinks.shards import (
        write_training_shards_delta,
        write_training_shards_incremental,
    )
    import pytest

    dest = str(tmp_path / "d")
    df = spark.createDataFrame(
        [(i, f"t {i}") for i in range(20)], "doc_id long, text string"
    )
    empty = df.limit(0)

    # no baseline export yet -> explicit error, not a silent full write
    with pytest.raises(ValueError, match="full exporter"):
        write_training_shards_delta(empty, dest, "doc_id", 4)

    write_training_shards_incremental(df, dest, "doc_id", 4)
    state = _dir_state(dest)

    # empty delta: nothing rewritten, manifest intact
    r = write_training_shards_delta(empty, dest, "doc_id", 4)
    assert r.n_rewritten == 0 and r.n_deleted == 0
    assert _dir_state(dest) == state

    # delete of a key that never existed: shard is touched, digest
    # folds to its old value, so nothing is rewritten
    r2 = write_training_shards_delta(
        empty, dest, "doc_id", 4,
        delete_keys=spark.createDataFrame([(999,)], "doc_id long"),
    )
    assert r2.n_rewritten == 0 and r2.n_deleted == 0
    assert _dir_state(dest) == state
    assert r2.manifest.n_rows == 20


def test_delta_export_emptied_shard_and_integrity_check(spark, tmp_path):
    import os
    import shutil

    import pytest

    from cardano_spark.sinks.shards import (
        write_training_shards_delta,
        write_training_shards_incremental,
    )

    dest = str(tmp_path / "d")
    rows = [(i, f"t {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    write_training_shards_incremental(df, dest, "doc_id", 4)

    # delete every member of one shard -> directory gone, manifest
    # drops the entry
    victim = _shard_of(0, 4)
    victim_ids = [i for i in range(40) if _shard_of(i, 4) == victim]
    r = write_training_shards_delta(
        df.limit(0),
        dest,
        "doc_id",
        4,
        delete_keys=spark.createDataFrame(
            [(i,) for i in victim_ids], "doc_id long"
        ),
    )
    assert r.n_deleted == 1 and r.n_rewritten == 0
    assert not os.path.exists(os.path.join(dest, f"_shard={victim}"))
    assert r.manifest.n_rows == 40 - len(victim_ids)

    # tamper with a touched shard's data behind the manifest's back:
    # the fold-vs-recompute cross-check must refuse to publish
    survivor = next(s for s in range(4) if s != victim)
    sdir = os.path.join(dest, f"_shard={survivor}")
    pq = [f for f in os.listdir(sdir) if f.endswith(".parquet")]
    os.remove(os.path.join(sdir, pq[0])) if len(pq) > 1 else shutil.rmtree(
        sdir
    )
    target = next(i for i in range(40) if _shard_of(i, 4) == survivor)
    with pytest.raises(ValueError, match="re-baseline"):
        write_training_shards_delta(
            spark.createDataFrame(
                [(target, "EDIT")], "doc_id long, text string"
            ),
            dest,
            "doc_id",
            4,
        )


def test_delta_export_crash_at_every_object_store_call_converges(
    spark, tmp_path, monkeypatch
):
    """A delta with inserts, one deleted key and one emptied shard
    crashes at its k-th ObjectStore mutation, for every k, and once
    right after its shard write. Replaying the same delta then leaves
    the manifest digests and the read-back rows of an uninterrupted
    export: the fold check never sees shards the manifest does not
    describe."""
    import shutil

    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from cardano_spark.sinks.shards import (
        write_training_shards_delta,
        write_training_shards_incremental,
    )
    from cardano_spark.sources.objectstore import ObjectStore

    schema = "doc_id long, text string"
    base = str(tmp_path / "base")
    write_training_shards_incremental(
        spark.createDataFrame([(i, f"t {i}") for i in range(40)], schema),
        base,
        "doc_id",
        4,
    )
    victim = _shard_of(0, 4)
    kept = [i for i in range(40) if _shard_of(i, 4) != victim]
    dels = [i for i in range(40) if _shard_of(i, 4) == victim] + kept[:1]
    ups = [(i, f"new {i}") for i in range(100, 140) if _shard_of(i, 4) != victim][:6]

    def delta(path):
        return write_training_shards_delta(
            spark.createDataFrame(ups, schema),
            path,
            "doc_id",
            4,
            delete_keys=spark.createDataFrame([(i,) for i in dels], "doc_id long"),
        )

    def outcome(path):
        return (
            [(e["shard_id"], e["rows"], e["digest"]) for e in read_manifest(path).shards],
            sorted(spark.read.parquet(path).select("doc_id", "text").collect()),
        )

    calls, crash_at, crash_write = [0], [0], [False]
    for name in ("put", "put_if_absent", "rename", "delete"):
        def wrapped(self, *a, _orig=getattr(ObjectStore, name)):
            calls[0] += 1
            if calls[0] == crash_at[0]:
                raise RuntimeError(f"injected crash at call {calls[0]}")
            return _orig(self, *a)

        monkeypatch.setattr(ObjectStore, name, wrapped)

    def write_then_crash(self, *a, _orig=DataFrameWriter.parquet, **kw):
        _orig(self, *a, **kw)
        if crash_write[0]:
            raise RuntimeError("injected crash after the shard write")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_crash)

    def run(path, k, after_write=False):
        shutil.copytree(base, path)
        calls[0], crash_at[0], crash_write[0] = 0, k, after_write
        try:
            delta(path)
        finally:
            crash_at[0], crash_write[0] = 0, False

    clean = str(tmp_path / "clean")
    run(clean, 0)
    n_calls, want = calls[0], outcome(clean)
    assert n_calls >= 3 and want[0] != outcome(base)[0]
    cases = [(k, False) for k in range(1, n_calls + 1)] + [(0, True)]
    for k, after_write in cases:
        path = str(tmp_path / f"crash{k}")
        with pytest.raises(RuntimeError, match="injected"):
            run(path, k, after_write)
        delta(path)
        assert outcome(path) == want, (k, after_write)


def test_delta_export_read_is_partition_pruned(spark, tmp_path):
    """The |new|-bounded claim at the mechanism level: the exporter's
    touched-shard read-back must partition-prune to the touched
    _shard directories (PartitionFilters in the scan), so untouched
    shards are never opened — the property that replaces the old
    exporter's corpus scans."""
    from cardano_spark.sinks.shards import write_training_shards_incremental

    dest = str(tmp_path / "d")
    df = spark.createDataFrame(
        [(i, f"t {i}") for i in range(40)], "doc_id long, text string"
    )
    write_training_shards_incremental(df, dest, "doc_id", 4)
    # the exact read the delta exporter issues for touched = [1]
    scan = (
        spark.read.parquet(dest)
        .filter(F.col("_shard").isin([1]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in scan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", scan)
    assert m and "_shard" in m.group(1)  # pruning predicate present


def test_write_training_shards_jsonl(spark, tmp_path):
    """JSONL format: same sharding/sorting/manifest discipline as
    parquet, loader-readable with spark.read.json, row-for-row equal
    content."""
    import json as _json

    from pyspark.sql import functions as F

    from cardano_spark.functions.hashing import md5_long
    from cardano_spark.sinks.shards import write_training_shards

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet").withColumn(
        "_shard_key",
        md5_long(F.concat(F.lit("shard|"), F.col("doc_id").cast("string"))),
    )
    jdest, pdest = str(tmp_path / "jsonl"), str(tmp_path / "parquet")
    jm = write_training_shards(src, jdest, "_shard_key", 4, fmt="jsonl")
    pm = write_training_shards(src, pdest, "_shard_key", 4)
    assert jm.n_rows == pm.n_rows > 0
    assert jm.n_shards == pm.n_shards == 4
    assert all(s["file"].endswith(".json") for s in jm.shards)
    # manifest row counts agree with an independent loader read-back
    back = spark.read.json(jdest)
    assert back.count() == jm.n_rows
    jrows = {r.doc_id: r.text for r in back.select("doc_id", "text").collect()}
    prows = {
        r.doc_id: r.text
        for r in spark.read.parquet(pdest).select("doc_id", "text").collect()
    }
    assert jrows == prows
    # every shard file is genuine JSONL: one parseable object per line
    import glob

    f = sorted(glob.glob(f"{jdest}/part-*.json"))[0]
    with open(f, encoding="utf-8") as fh:
        lines = [ln for ln in fh.read().splitlines() if ln]
    assert lines and all(
        isinstance(_json.loads(ln), dict) for ln in lines
    )
    with open(f"{jdest}/_manifest.json", encoding="utf-8") as fh:
        m = _json.load(fh)
    assert m["n_rows"] == jm.n_rows


def test_write_training_shards_jsonl_emits_explicit_nulls(spark, tmp_path):
    """NULL-valued columns serialize as explicit ``"k": null`` keys,
    so every row in a shard carries the SAME key set (r8 ADVICE:
    Spark's JSON writer default ignoreNullFields=true silently drops
    keys, breaking loaders that index by fixed fields)."""
    import glob
    import json as _json

    from cardano_spark.sinks.shards import write_training_shards

    src = spark.createDataFrame(
        [(1, "a", "en"), (2, None, None), (3, "c", None)],
        "doc_id long, text string, lang string",
    )
    dest = str(tmp_path / "j")
    write_training_shards(src, dest, "doc_id", 1, fmt="jsonl")
    objs = []
    for f in sorted(glob.glob(f"{dest}/part-*.json")):
        with open(f, encoding="utf-8") as fh:
            objs += [_json.loads(ln) for ln in fh.read().splitlines() if ln]
    assert len(objs) == 3
    # uniform key set, nulls explicit
    assert all(set(o) == {"doc_id", "text", "lang"} for o in objs)
    by_id = {o["doc_id"]: o for o in objs}
    assert by_id[2]["text"] is None and by_id[2]["lang"] is None
    assert by_id[3]["lang"] is None and by_id[3]["text"] == "c"


def test_write_training_shards_bad_format_rejected(spark, tmp_path):
    import pytest as _pytest

    from cardano_spark.sinks.shards import write_training_shards

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    with _pytest.raises(ValueError, match="unknown shard format"):
        write_training_shards(src, str(tmp_path / "x"), "doc_id", 2, fmt="csvish")


def test_manifest_over_8_kib_round_trips_on_both_routes(spark, tmp_path):
    """A manifest larger than one 8 KiB py4j answer reads back whole
    through the Hadoop route (ObjectStore pieces) and the local route,
    and a missing manifest raises FileNotFoundError on both."""
    import json

    import pytest

    from cardano_spark.sinks.shards import write_training_shards_incremental

    dest = str(tmp_path / "m")
    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(300)], "doc_id long, text string"
    )
    written = write_training_shards_incremental(df, dest, "doc_id", 48).manifest
    path = os.path.join(dest, "_manifest.json")
    assert os.path.getsize(path) > 8 * 1024
    assert read_manifest(dest, spark) == written
    assert read_manifest(dest) == written
    with open(path) as fh:
        assert json.load(fh)["shards"] == written.shards

    missing = str(tmp_path / "none")
    with pytest.raises(FileNotFoundError):
        read_manifest(missing, spark)
    with pytest.raises(FileNotFoundError):
        read_manifest(missing)
