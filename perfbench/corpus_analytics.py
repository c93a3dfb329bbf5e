"""``corpus_analytics``: document arrival batches folded into a
training corpus, and a closed loop with one client over a fixed query
mix on the generated tables.

Each cycle first folds one arrival batch of documents into the corpus
with ``build_corpus_incremental`` (watermark gate, exact and near-dup
dedup against the persisted band index, quality gate, merge-sink
state tables, shard delta export), then runs
every query of the mix once, in a seeded shuffled order, each
materialized with the ``noop`` sink. Arrival batches split the
generated documents at seeded, monotone ``doc_id`` cut points.

Setup is the session start, one sweep that collects every query and
hashes its result, and the first ``WARMUP_BATCHES`` arrival batches
(the first export and the first delta export), so every code path is
compiled before the clock runs. The run then measures a fixed number
of cycles (``harness.measured_units``). The checks run
outside the timed window: the setup hashes against each query's
DuckDB ``oracle_sql()`` twin, and the final corpus survivors against
the batch build ``build_corpus(neardup_rule="keep_first_pairwise")``
over the same documents.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import time
from contextlib import nullcontext
from datetime import date, datetime
from decimal import Decimal

import pyarrow.parquet as pq

from harness import RunRecord, measured_units, median, tree_cpu_s
from probes import install_state_probes, mean, state_metrics

#: one query per operator family; each distinct query adds a cold
#: compile to the setup of every run, which the run budget caps. The
#: dedup operators run inside every arrival batch, so no dedup query
#: is needed.
RELATIONAL = (
    "q02_top_parts_by_revenue",
    "q04_stale_orders_anti_join",
    "q38_asof_prev_view",
)
RETRIEVAL = ("q27_ann_brute_topk",)
CURATION = ("q62_data_quality",)
MIX = RELATIONAL + RETRIEVAL + CURATION
#: span that runs a query's action, per query
EXEC_LAYER = {
    **{q: "operators.relational.exec" for q in RELATIONAL},
    **{q: "operators.similarity.exec" for q in RETRIEVAL},
    **{q: "operators.curation.exec" for q in CURATION},
}
#: the generated tables the mix reads
TABLES = ("part", "orders", "lineitem", "events", "embeddings")

#: arrival batches in setup (the first export); a measured batch is a
#: delta export
WARMUP_BATCHES = 1
N_SHARDS = 4


def prepare(work: str, seed: int) -> None:
    import datagen

    datagen.generate(os.path.join(work, "sf"), seed)


def _canon_cell(v) -> str:
    import pandas as pd

    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if v != v else repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (datetime, pd.Timestamp)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytes):
        return "0x" + v.hex()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return "[" + ",".join(_canon_cell(x) for x in list(v)) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def canonical_hash(df) -> tuple[int, list[str], str]:
    """Order-insensitive (row count, sorted columns, value hash) of a
    pandas frame."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_canon_cell(v) for v in tup)
        for tup in df[cols].itertuples(index=False, name=None)
    )
    return len(rows), cols, hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def arrival_bounds(n_docs: int, n_batches: int, rng: random.Random) -> list[int]:
    """Monotone ``doc_id`` cut points: equal shares, each cut moved by
    up to a quarter share."""
    share = n_docs / n_batches
    cuts = [round(k * share + rng.uniform(-share / 4, share / 4)) for k in range(1, n_batches)]
    return [0, *cuts, n_docs]


class Corpus:
    """The arrival side: one ``build_corpus_incremental`` call per
    batch into one destination."""

    def __init__(self, spark, sf: str, work: str, bounds: list[int]):
        self.spark = spark
        self.docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        self.dest = os.path.join(work, "corpus")
        self.bounds = bounds
        self.next_batch = 0
        self.last = None

    def arrive(self, rec: RunRecord) -> int:
        """Fold the next arrival batch in; returns its document count."""
        from pyspark.sql import functions as F

        import cardano_spark.pipelines.corpus as CORPUS

        lo, hi = self.bounds[self.next_batch], self.bounds[self.next_batch + 1]
        self.next_batch += 1
        batch = self.docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        self.last = CORPUS.build_corpus_incremental(self.spark, batch, self.dest, n_shards=N_SHARDS)
        rec.attempted += 1
        rec.check(
            self.last.n_arrived == hi - lo,
            f"batch {self.next_batch}: {self.last.n_arrived} docs arrived, {hi - lo} sent",
        )
        return hi - lo

    def check_against_batch_build(self, rec: RunRecord, work: str) -> None:
        from cardano_spark.pipelines.corpus import build_corpus

        twin = os.path.join(work, "corpus-batch")
        build_corpus(
            self.spark, self.docs, twin, neardup_rule="keep_first_pairwise", n_shards=N_SHARDS
        )

        def ids(path):
            return {r["doc_id"] for r in self.spark.read.parquet(path).select("doc_id").collect()}

        want, got = ids(twin), ids(self.dest)
        rec.check(bool(want), "batch build kept no documents")
        rec.check(
            got == want,
            f"survivors differ from the batch build: {len(got - want)} extra, "
            f"{len(want - got)} missing",
        )
        rec.check(
            self.last.n_survivors_total == len(want),
            f"audit survivors {self.last.n_survivors_total} != batch build {len(want)}",
        )


def run(spark, seed: int, seconds: int, work: str, cpus: int, tracer, t_session: float) -> RunRecord:
    from cardano_spark.plans import registry

    sf = os.path.join(work, "sf")
    rec = RunRecord()
    rng = random.Random(seed)
    queries = registry.all_queries()
    cycles = measured_units(seconds)
    n_docs = pq.read_metadata(os.path.join(sf, "documents.parquet")).num_rows
    corpus = Corpus(spark, sf, work, arrival_bounds(n_docs, WARMUP_BATCHES + cycles, rng))
    if tracer is not None:
        install_probes(tracer)

    # setup: one collecting sweep and the first arrival batches
    t0 = time.perf_counter()
    with _root(tracer, "setup.sweep"):
        hashes = {name: canonical_hash(queries[name](spark, sf).toPandas()) for name in MIX}
    t1 = time.perf_counter()
    with _root(tracer, "setup.batch"):
        for _ in range(WARMUP_BATCHES):
            corpus.arrive(rec)
    rec.setup_s = time.perf_counter() - t_session
    check_oracles(rec, sf, hashes)
    t2 = time.perf_counter()
    rec.notes.append(
        f"setup: session {t0 - t_session:.3f} s, collecting sweep {t1 - t0:.3f} s, "
        f"{WARMUP_BATCHES} arrival batches {t_session + rec.setup_s - t1:.3f} s; "
        f"oracle check {t2 - t_session - rec.setup_s:.3f} s"
    )

    batch_s, sweep_s, docs = [], [], 0
    for n in range(1, cycles + 1):
        if tracer is not None:
            tracer.trace_id = f"cycle-{n}"
        order = list(MIX)
        rng.shuffle(order)
        cpu0 = tree_cpu_s()
        t_cycle = time.perf_counter()
        with _root(tracer, "corpus.batch"):
            docs += corpus.arrive(rec)
        batch_s.append(time.perf_counter() - t_cycle)
        t_sweep = time.perf_counter()
        for name in order:
            t0 = time.perf_counter()
            if tracer is None:
                queries[name](spark, sf).write.mode("overwrite").format("noop").save()
            else:
                with tracer.span(f"query.{name}"):
                    with tracer.span("plans.build"):
                        df = queries[name](spark, sf)
                    with tracer.span(EXEC_LAYER[name]):
                        df.write.mode("overwrite").format("noop").save()
            rec.query_s.append(time.perf_counter() - t0)
            rec.attempted += 1
        t_end = time.perf_counter()
        sweep_s.append(t_end - t_sweep)
        rec.cycle_s.append(t_end - t_cycle)
        rec.cycle_cpu_s.append(tree_cpu_s() - cpu0)

    if tracer is not None:
        tracer.trace_id = "check"
    t0 = time.perf_counter()
    corpus.check_against_batch_build(rec, work)
    rec.notes.append(f"batch-build check {time.perf_counter() - t0:.3f} s")

    rec.notes.append(
        f"cycles={cycles} batch_s={median(batch_s):.3f} docs/s={docs / sum(batch_s):.2f} "
        f"sweep_s={median(sweep_s):.3f} queries={len(rec.query_s)}"
    )
    rec.notes.append("batch_s each: " + " ".join(f"{t:.3f}" for t in batch_s))
    rec.notes.append("sweep_s each: " + " ".join(f"{t:.3f}" for t in sweep_s))
    rec.layers["corpus.batch_s"] = median(batch_s)
    rec.layers["corpus.docs_per_s"] = docs / sum(batch_s)
    rec.layers["analytics.sweep_s"] = median(sweep_s)
    if tracer is not None:
        rec.layers.update(layer_metrics(tracer, cycles))
    return rec


def check_oracles(rec: RunRecord, sf: str, hashes: dict) -> None:
    """Each query's setup-sweep hash against its DuckDB twin."""
    import duckdb

    from cardano_spark.plans import registry

    oracles = registry.all_oracles()
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    for name in MIX:
        want = canonical_hash(con.execute(oracles[name]).fetchdf())
        rec.check(hashes[name] == want, f"{name}: spark {hashes[name]} != oracle {want}")
    con.close()


def _root(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


# -- tracing ------------------------------------------------------------


def _dir_bytes(path: str, modified_after: float = 0.0) -> int:
    return sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and os.path.getmtime(f) >= modified_after
    )


def install_probes(tracer) -> None:
    import cardano_spark.operators.curation as CU
    import cardano_spark.operators.dedup as DD
    import cardano_spark.operators.similarity as SIM
    import cardano_spark.pipelines.corpus as CORPUS
    import cardano_spark.plans.queries as Q
    import cardano_spark.plans.trainingdata as TD

    for mod in (Q, TD):
        for fn in ("table", "narrow_table", "table_bytes", "scan_partitions_estimate"):
            if hasattr(mod, fn):
                tracer.wrap(mod, fn, "catalog")
    for fn in (
        "asof_join_prev",
        "broadcast_if_small",
        "insert_if_absent",
        "missing_children",
        "range_join_count",
        "topk",
        "with_running",
    ):
        tracer.wrap(Q, fn, "operators.relational")
    for fn in ("neardup_topk_per_block", "brute_force_topk", "ivf_topk"):
        tracer.wrap(SIM, fn, "operators.similarity")
    for fn in ("band_index", "incremental_minhash_pairs"):
        tracer.wrap(DD, fn, "operators.dedup")
    for fn in ("quality_report",):
        tracer.wrap(CU, fn, "operators.curation")

    def corpus_probe(args, kwargs):
        dest = args[2] if len(args) > 2 else kwargs["dest"]

        def after(result):
            tracer.count("pipelines.corpus.state_bytes", _dir_bytes(os.path.join(dest, "_state")))

        return after

    tracer.wrap(CORPUS, "build_corpus_incremental", "pipelines.corpus", corpus_probe)

    def shards_probe(args, kwargs):
        path = args[1] if len(args) > 1 else kwargs["path"]
        t0 = time.time()

        def after(result):
            tracer.count("sinks.shards.shards_rewritten", len(result.rewritten))
            tracer.count(
                "sinks.shards.bytes_written",
                sum(_dir_bytes(d, t0) for d in glob.glob(os.path.join(path, "_shard=*"))),
            )

        return after

    # imported by name into the pipeline module: patched where bound
    for fn in ("write_training_shards_incremental", "write_training_shards_delta"):
        tracer.wrap(CORPUS, fn, "sinks.shards", shards_probe)
    install_state_probes(tracer)


def layer_metrics(tracer, n_cycles: int) -> dict[str, float]:
    """Per-cycle means over the measured cycles."""
    self_s = tracer.self_times()
    total_s = tracer.totals("s")
    jobs = tracer.totals("jobs")
    cycles = [f"cycle-{i}" for i in range(1, n_cycles + 1)]
    wall, unattributed = tracer.roots(cycles)
    out = {
        name: mean(self_s, span, cycles)
        for name, span in (
            ("catalog.s", "catalog"),
            ("plans.build_s", "plans.build"),
            ("operators.relational.build_s", "operators.relational"),
            ("operators.relational.exec_s", "operators.relational.exec"),
            ("operators.similarity.build_s", "operators.similarity"),
            ("operators.similarity.exec_s", "operators.similarity.exec"),
            ("operators.dedup.build_s", "operators.dedup"),
            ("operators.curation.build_s", "operators.curation"),
            ("operators.curation.exec_s", "operators.curation.exec"),
            ("pipelines.corpus.s", "pipelines.corpus"),
            ("sinks.shards.s", "sinks.shards"),
        )
    }
    for name in (
        "pipelines.corpus.state_bytes",
        "sinks.shards.shards_rewritten",
        "sinks.shards.bytes_written",
    ):
        out[name] = mean(tracer.counters, name, cycles)
    out.update(state_metrics(tracer, cycles))
    out["spark.jobs_per_cycle"] = sum(v for (t, _), v in jobs.items() if t in cycles) / n_cycles
    out["trace.cycle_s"] = wall / n_cycles
    out["trace.unattributed_s"] = unattributed / n_cycles
    out["trace.overhead_s"] = tracer.overhead_s(cycles) / n_cycles
    for name in MIX:
        out[f"query.{name}_s"] = mean(total_s, f"query.{name}", cycles)
    return out
