"""Spark-job budgets of one corpus arrival batch: each intermediate is
computed once, so the counts below are the whole cost of a batch. The
numbers do not depend on the core count (the fixture session fixes
the shuffle partitions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

#: Spark jobs of a second arrival batch of ~100 documents with no
#: benchmark and no paragraph or semantic stage, as measured: arrival
#: count+max, the exact and near-dup checkpoints and their counts, the
#: kept-rows count, three state merges, the shard delta and the
#: survivor count
SECOND_BATCH_JOBS = 41


def _documents(spark):
    from cardano_spark.catalog import table

    return table(spark, SF_SMALL, "documents")


def test_shard_delta_insert_only_runs_at_most_six_jobs(spark, tmp_path, count_jobs):
    """An insert-only delta over an existing 4-shard export: the
    upsert digest collect, the tagged shuffle, the removed+recomputed
    digest collect and the write."""
    from cardano_spark.sinks.shards import (
        write_training_shards_delta,
        write_training_shards_incremental,
    )

    dest = str(tmp_path / "d")
    schema = "doc_id long, text string"
    write_training_shards_incremental(
        spark.createDataFrame([(i, f"text {i}") for i in range(80)], schema),
        dest,
        "doc_id",
        4,
    )
    ups = spark.createDataFrame([(100 + i, f"new {i}") for i in range(20)], schema)
    result, jobs = count_jobs(lambda: write_training_shards_delta(ups, dest, "doc_id", 4))
    assert result.manifest.n_rows == 100 and result.n_rewritten == 4
    assert jobs <= 6, jobs


def test_second_arrival_batch_job_budget(spark, tmp_path, count_jobs):
    from cardano_spark.pipelines.corpus import build_corpus_incremental

    docs = _documents(spark)
    dest = str(tmp_path / "inc")
    build_corpus_incremental(spark, docs.filter(F.col("doc_id") < 300), dest, n_shards=4)
    audit, jobs = count_jobs(
        lambda: build_corpus_incremental(
            spark, docs.filter(F.col("doc_id") < 400), dest, n_shards=4
        )
    )
    assert audit.n_arrived == 100
    assert audit.n_after_decontam == audit.n_after_neardup
    assert jobs <= SECOND_BATCH_JOBS, jobs
