"""Generated code survives from one corpus cycle to the next.

A cycle (one arrival batch, then a sweep of the query mix) looks up
about 190 distinct generated classes. Spark's codegen cache is an LRU
of ``spark.sql.codegen.cache.maxEntries`` classes, and a cyclic
working set larger than an LRU's capacity gets no hits at all: each
class is evicted before its next use, so every cycle would compile
the same classes again. ``get_spark`` sizes the cache above the
working set; with Spark's default of 100 the second sweep below
recompiles every class it uses."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

#: one query per operator family, as in the corpus benchmark's mix
MIX = (
    "q02_top_parts_by_revenue",
    "q04_stale_orders_anti_join",
    "q38_asof_prev_view",
    "q27_ann_brute_topk",
    "q62_data_quality",
)


def _compiles(spark) -> int:
    """Classes compiled so far in this JVM: one per codegen cache miss."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_sweep_after_an_arrival_batch_compiles_nothing(spark, tmp_path):
    from cardano_spark.catalog import table
    from cardano_spark.pipelines.corpus import build_corpus_incremental
    from cardano_spark.plans import registry

    queries = registry.all_queries()
    docs = table(spark, SF_SMALL, "documents")
    dest = str(tmp_path / "inc")

    def sweep():
        for name in MIX:
            queries[name](spark, SF_SMALL).write.mode("overwrite").format("noop").save()

    build_corpus_incremental(spark, docs.filter(F.col("doc_id") < 300), dest, n_shards=4)
    sweep()
    build_corpus_incremental(spark, docs.filter(F.col("doc_id") < 400), dest, n_shards=4)
    before = _compiles(spark)
    sweep()
    assert _compiles(spark) - before == 0
