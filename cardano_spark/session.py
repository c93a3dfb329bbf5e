"""SparkSession factory.

All scale-sensitive knobs live here, once. Local testing runs on
``local[$SPARK_GRAFT_CPUS]`` (single JVM); production is a real
cluster — nothing below assumes local mode except the master URL
default.

Scale notes (100 TB target):
- AQE on: runtime coalescing of post-shuffle partitions, skew-join
  splitting, and dynamic join-strategy demotion replace any manual
  batch-size tuning the reference did (SURVEY §4 "batching").
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound;
  AQE coalesces down. On a real cluster raise it to ~2-3x total cores.
- Arrow enabled for every pandas interchange (Pandas UDFs are the
  sanctioned slow path, row-at-a-time UDFs are banned in this repo).
- The codegen cache holds ``CODEGEN_CACHE_ENTRIES`` generated classes,
  not Spark's default 100. The engine runs the same plans every
  cycle, and a cyclic working set larger than an LRU's capacity gets
  no hits: each class is evicted before its next use. One
  ``corpus_analytics`` cycle (an arrival batch and a 5-query sweep)
  looks up ~190 classes, so at 100 entries every cycle compiled and
  loaded all of them again. The working set grows with the number of
  distinct plans, not with data.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: generated classes kept by Spark's codegen cache (an LRU). Measured
#: distinct classes: ~190 looked up per ``corpus_analytics`` cycle
#: (~125 in the arrival batch, ~65 in the sweep) and ~295 in a whole
#: 4-cycle run; 93 in a whole ``cardano_etl`` run; 2605 in
#: ``tests/test_trainingdata_ops.py``, whose plans are mostly distinct.
#: ~10 literal-specialized classes per batch are never reused, and LRU
#: evicts those first, so 1000 holds the largest per-cycle working set
#: five times over.
CODEGEN_CACHE_ENTRIES = 1000


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def driver_memory() -> str:
    """Default driver heap: half of physical memory, within 1-16 GiB.
    In local mode the driver JVM shares the host with the Python
    workers and its own off-heap use, so it must not claim all of it
    (a 16g heap on a 16 GB host got the JVM OOM-killed)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, phys // 2 >> 30))}g"


def get_spark(
    app_name: str = "cardano-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing is BYTE-based; several operators here (LSH
        # band self-joins, per-block pair scoring, window passes over
        # slim id rows) carry huge COMPUTE fan-out per shuffled byte,
        # and the default 1 MiB floor collapses their post-shuffle
        # stages to one partition — one core does all the pair math
        # (optimization guide §2.2/§2.5: byte-based coalescing cannot
        # see compute skew). A lower floor keeps `parallelismFirst`
        # coalescing proportional to bytes/parallelism while letting
        # slim-row heavy-compute stages keep their cores at ANY
        # cluster size. A deployment whose shuffles are all genuinely
        # byte-heavy overrides it through ``extra_conf``.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffled-hash joins, bounded at RUNTIME (r11 verdict #3):
        # the r11 global ``preferSortMergeJoin=false`` made the
        # PLANNER pick SHJ from size *estimates* — at 100 TB a
        # mis-estimated or skewed build side is an OOM class SMJ does
        # not have (AQE skew splitting covers the probe side, not the
        # build side). Scale-safe form (guide §3.1): keep Spark's
        # sort-merge default and let AQE rewrite SMJ -> SHJ only when
        # every post-shuffle partition's MEASURED size fits the local
        # hash map bound below — the build side is then provably
        # bounded per task, and oversized/skewed joins stay SMJ.
        # Same fixture-scale plans (partitions are KB there), no
        # estimate-driven hash builds at scale. The bound must stay at
        # or above spark.sql.adaptive.advisoryPartitionSizeInBytes
        # (64m default): AQE coalesces partitions up to the advisory
        # size, so a lower bound silently disables the rewrite.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet has shipped as TIMESTAMP(NANOS) in some data
        # drops; the vectorized reader rejects that type outright, so
        # sessions read nanos as long and catalog._read_events converts
        # losslessly. Harmless for micros-shaped data.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a static conf: it sizes the JVM-wide cache when the first
        # plan compiles (see the scale notes)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_nanos_compat(spark: SparkSession) -> None:
    """Set the nanos-as-long reader conf on a session NOT built by
    :func:`get_spark` (the correctness driver constructs its own bare
    session). All session-config mutation lives in this module; the
    readers call this instead of touching ``spark.conf`` themselves."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def cluster_conf(
    input_bytes: int,
    total_cores: int,
    executor_memory_bytes: int = 16 << 30,
    memory_fraction: float = 0.6,
    cores_per_executor: int = 8,
) -> dict[str, str]:
    """Recommended scale-sensitive confs for a REAL cluster run over
    ``input_bytes`` of data — the 100 TB sizing rules from SCALE.md
    as executable policy (pass the result as ``extra_conf`` to
    :func:`get_spark`).

    Rules (each is a documented Spark sizing guideline, not a tuned
    magic number):
    - shuffle.partitions: every post-shuffle partition should fit in
      an executor core's working memory (executor mem x fraction /
      cores-per-executor-share), floored at 2x total cores so every
      core has work and AQE has room to coalesce DOWN (AQE only
      merges, it never splits a too-coarse map).
    - files.maxPartitionBytes: scan tasks sized so the scan stage
      yields at least ~3 waves per core (pipeline parallelism and
      straggler smoothing), capped at 1 GiB.
    - autoBroadcastJoinThreshold: ~1/16 of per-core memory — a
      broadcast table is materialized on EVERY executor, so the
      ceiling follows executor memory, not input size.
    """
    if input_bytes <= 0 or total_cores <= 0:
        raise ValueError("input_bytes and total_cores must be positive")
    if cores_per_executor <= 0:
        raise ValueError("cores_per_executor must be positive")
    # one executor's memory is shared by ITS OWN cores only — never by
    # the whole cluster (a 12-core cluster with 8-core executors still
    # gives each core mem/8, not mem/12)
    per_core_mem = executor_memory_bytes * memory_fraction / min(
        cores_per_executor, total_cores
    )
    shuffle_parts = max(
        2 * total_cores, int(input_bytes // max(1, int(per_core_mem)))
    )
    target_scan_part = min(
        1 << 30, max(16 << 20, input_bytes // (3 * total_cores))
    )
    broadcast_cap = int(per_core_mem // 16)
    return {
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.files.maxPartitionBytes": str(int(target_scan_part)),
        "spark.sql.autoBroadcastJoinThreshold": str(broadcast_cap),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
    }
