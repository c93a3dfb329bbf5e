"""Shuffled-hash joins must be bounded at RUNTIME, not chosen from
estimates (r11 verdict, What's wrong #3): the session keeps Spark's
sort-merge default (`preferSortMergeJoin` untouched) and relies on
AQE's `maxShuffledHashJoinLocalMapThreshold` to rewrite SMJ -> SHJ
only when every post-shuffle partition's MEASURED size fits the local
hash-map bound — so a mis-estimated or skewed build side can never
hash-build its way into an OOM that SMJ would have survived."""

from __future__ import annotations


def test_prefer_sort_merge_join_is_default(spark):
    # the r11 global estimate-driven flip is gone
    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "true"
    # and the runtime-bounded AQE rewrite is on
    thr = spark.conf.get(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    )
    assert thr not in ("0", "0b")


def test_shj_bound_covers_advisory_partition_size(spark):
    # AQE coalesces up to the advisory size; a lower hash-map bound
    # would never admit a coalesced partition, disabling the rewrite
    parse = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    thr = spark.conf.get(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"
    )
    advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    assert parse(thr) >= parse(advisory), (thr, advisory)


def test_small_partitions_convert_to_shj_at_runtime(spark):
    a = spark.range(20000).selectExpr("id AS k", "id * 2 AS v")
    b = spark.range(10000).selectExpr("id AS k", "id * 3 AS w")
    # disable broadcast so the join is a real shuffle join; no join
    # hint — a hint would bypass the dynamic selection this test pins
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = a.join(b, "k", "left")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        # toString appends the pre-AQE "Initial Plan" (which is SMJ by
        # design); assert on the final-plan section only
        final = plan.split("Initial Plan")[0]
        assert "isFinalPlan=true" in final, plan
        assert "ShuffledHashJoin" in final, plan
        assert "SortMergeJoin" not in final, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
