"""S9/S10 contract test: the ObjectStore runs against the Hadoop
FileSystem interface — the same one s3a:// implements — so exercising
it on a ``file://`` base URI pins listing and upload/download
through the interface the 100 TB deployment uses (mirrors the reference's moto fake-S3 suite,
unit_tests/src/file_explorer/test_s3_file_explorer.py:26-135)."""

from __future__ import annotations

from cardano_spark.sources.objectstore import ObjectStore


def test_objectstore_put_get_roundtrip(spark, tmp_path):
    store = ObjectStore(spark, f"file://{tmp_path}")
    payload = b"\x00\x01raw json bytes \xe2\x9c\x93"
    store.put("cardano/blocks/b1.json", payload)
    assert store.exists("cardano/blocks/b1.json")
    assert store.get("cardano/blocks/b1.json") == payload
    # overwrite semantics (S3 put replaces)
    store.put("cardano/blocks/b1.json", b"v2")
    assert store.get("cardano/blocks/b1.json") == b"v2"
    assert store.delete("cardano/blocks/b1.json")
    assert not store.exists("cardano/blocks/b1.json")


def test_objectstore_list_names_is_flat(spark, tmp_path):
    """``list_names`` lists the files directly under a prefix, sorted,
    and nothing for a missing prefix."""
    store = ObjectStore(spark, f"file://{tmp_path}")
    store.put("zone/b.json", b"b")
    store.put("zone/a.json", b"a")
    store.put("zone/2024/c.json", b"c")
    assert store.list_names("zone") == ["a.json", "b.json"]
    assert store.list_names("missing-prefix") == []


def test_objectstore_list_names_calls_do_not_grow_with_objects(spark, tmp_path):
    """A listing takes the same number of py4j calls for 3 objects as
    for 60, and a subdirectory under the prefix, empty or not, is
    still left out."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    store = ObjectStore(spark, f"file://{tmp_path}")
    for n in (3, 60):
        for i in range(n):
            store.put(f"l{n}/{i:04d}.json", b"x")
        store.put(f"l{n}/sub/nested.json", b"x")
        store.put(f"l{n}/empty/.keep", b"x")
        store.delete(f"l{n}/empty/.keep")
    client.send_command = counted
    try:
        per_listing = []
        for n in (3, 60):
            calls.clear()
            assert store.list_names(f"l{n}") == [f"{i:04d}.json" for i in range(n)]
            per_listing.append(len(calls))
    finally:
        client.send_command = send
    assert per_listing[0] == per_listing[1], per_listing


def test_objectstore_feeds_spark_reader(spark, tmp_path):
    """End-to-end S9->S5 shape: objects PUT through the store are
    readable by the schema'd incremental zone reader over the same
    base URI, and the listing agrees with what the reader ingests."""
    import json

    from pyspark.sql import types as T

    from cardano_spark.sources.files import read_json_zone

    store = ObjectStore(spark, f"file://{tmp_path}")
    for i in range(3):
        store.put(f"raw/blocks/part-{i}.json", json.dumps({"x": i}).encode())

    schema = T.StructType([T.StructField("x", T.LongType())])
    df = read_json_zone(spark, f"file://{tmp_path}/raw/blocks", schema)
    assert sorted(r.x for r in df.collect()) == [0, 1, 2]
    assert store.list_names("raw/blocks") == [f"part-{i}.json" for i in range(3)]
