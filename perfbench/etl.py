"""``cardano_etl``: incremental Cardano ingest cycles, a caught-up
replay and downstream reads of the merged lake tables.

One cycle lands a fresh ``WINDOW``-block window in two tables: E1
for blocks and for block->tx lists (provider -> raw JSON zone ->
provider watermark), then E2 for both (incremental raw-zone scan ->
idempotent merge -> file watermark).

Setup is the session start plus one full cycle, so every write path
is compiled before the clock runs. The run then measures a fixed
number of cycles (``harness.measured_units``), so the tables behind
every figure have the same size however fast the program is; the
replay and one pass of lake reads follow. The reads are per-layer
figures only and get no warm-up of their own. Row counts and
watermarks are checked against the provider's oracle after every
cycle, from the parquet files directly and outside the timed
region.
"""

from __future__ import annotations

import glob
import os
import time
from contextlib import nullcontext

import pyarrow.parquet as pq

from harness import RunRecord, measured_units, median, tree_cpu_s
from probes import install_state_probes, mean, state_metrics, table_rows
from provider import Provider

WINDOW = 250
TOP_K = 10
TABLES = ("cardano_blocks", "cardano_block_transactions")


def _ledger(path: str) -> dict[str, int]:
    """Latest provider watermark per pipeline, read from the ledger
    files directly (no Spark job)."""
    files = glob.glob(os.path.join(path, "*.parquet"))
    out: dict[str, int] = {}
    for f in files:
        t = pq.read_table(f, columns=["table", "block_height"]).to_pylist()
        for row in t:
            out[row["table"]] = max(out.get(row["table"], row["block_height"]), row["block_height"])
    return out


class EtlWorkload:
    def __init__(self, spark, seed: int, work: str, cpus: int):
        from cardano_spark.pipelines import cardano as C

        self.C = C
        self.cpus = cpus
        sc = spark.sparkContext
        self.requests = sc.accumulator(0)
        self.retries = sc.accumulator(0)
        self.provider = Provider(seed, self.requests, self.retries)
        self.lake = C.CardanoLake(spark, os.path.join(work, "lake"))
        self.first_start: int | None = None
        self.last_end: int | None = None

    # -- phases --------------------------------------------------------

    def cycle(self, rec: RunRecord) -> tuple[int, int]:
        C, lake, p, n = self.C, self.lake, self.provider, self.cpus
        start, end = C.blocks_to_raw(lake, p, batch=WINDOW, fetch_partitions=n)
        C.block_transactions_to_raw(lake, p, batch=WINDOW, fetch_partitions=n)
        C.raw_blocks_to_table(lake)
        C.raw_block_transactions_to_table(lake)
        rec.attempted += 4
        return start, end

    def replay(self) -> list[object]:
        """Every stage again with nothing new upstream. Block E1 has
        no caught-up state (each call fetches the next window), so it
        is the one stage left out."""
        C, lake, p, n = self.C, self.lake, self.provider, self.cpus
        return [
            C.block_transactions_to_raw(lake, p, batch=WINDOW, fetch_partitions=n),
            C.raw_blocks_to_table(lake),
            C.raw_block_transactions_to_table(lake),
        ]

    def read_queries(self):
        """Downstream queries over the merged tables, each read via
        ``ParquetMergeSink.read()``; name -> zero-arg runner."""
        from pyspark.sql import functions as F

        from cardano_spark.operators import relational as REL

        sink = self.lake.sink

        def largest_blocks():
            top = REL.topk(
                sink("cardano_blocks").read(),
                [F.desc("size"), F.asc("height")],
                TOP_K,
            )
            return [(r["height"], r["size"]) for r in top.collect()]

        def ingest_gap():
            blocks = sink("cardano_blocks").read().select(
                F.col("height").cast("string").alias("block")
            )
            listed = sink("cardano_block_transactions").read().select("block")
            return REL.missing_children(blocks, listed, ["block"]).count()

        def txs_per_epoch():
            txs = sink("cardano_block_transactions").read().select(
                "block", F.explode("tx_hash").alias("hash")
            )
            blocks = sink("cardano_blocks").read().select(
                F.col("height").cast("string").alias("block"), "epoch"
            )
            rows = txs.join(blocks, "block").groupBy("epoch").count().collect()
            return {r["epoch"]: r["count"] for r in rows}

        return {
            "lake_largest_blocks": largest_blocks,
            "lake_ingest_gap": ingest_gap,
            "lake_txs_per_epoch": txs_per_epoch,
        }

    # -- checks --------------------------------------------------------

    def table_counts(self) -> dict[str, int]:
        return {t: table_rows(self.lake.table_path(t)) for t in TABLES}

    def check_cycle(self, rec: RunRecord, start: int, end: int) -> None:
        if self.first_start is None:
            self.first_start = start
        self.last_end = end
        want = self.provider.expected_rows(self.first_start, end)
        got = self.table_counts()
        for t in TABLES:
            rec.check(got[t] == want[t], f"{t} rows {got[t]} != oracle {want[t]}")
        wm = _ledger(self.lake.provider_wm.path)
        for name in ("cardano_blocks", "cardano_block_transactions"):
            rec.check(wm.get(name) == end, f"watermark {name}={wm.get(name)} != {end}")

    def expected_reads(self) -> dict[str, object]:
        p, lo, hi = self.provider, self.first_start, self.last_end
        return {
            "lake_largest_blocks": p.largest_blocks(lo, hi, TOP_K),
            "lake_ingest_gap": 0,
            "lake_txs_per_epoch": p.txs_per_epoch(lo, hi),
        }


def run(spark, seed: int, seconds: int, work: str, cpus: int, tracer, t_session: float) -> RunRecord:
    rec = RunRecord()
    wl = EtlWorkload(spark, seed, work, cpus)
    if tracer is not None:
        install_probes(tracer, wl)
    queries = wl.read_queries()

    # setup: one cold cycle
    with _root(tracer, "setup.cycle"):
        start, end = wl.cycle(rec)
    rec.setup_s = time.perf_counter() - t_session
    wl.check_cycle(rec, start, end)

    for n in range(1, measured_units(seconds) + 1):
        _set_trace(tracer, f"cycle-{n}")
        sent, failed = wl.requests.value, wl.retries.value
        cpu0 = tree_cpu_s()
        with _root(tracer, "etl.cycle"):
            t0 = time.perf_counter()
            start, end = wl.cycle(rec)
            rec.cycle_s.append(time.perf_counter() - t0)
        rec.cycle_cpu_s.append(tree_cpu_s() - cpu0)
        if tracer is not None:
            tracer.count("sources.http_fetch.requests", wl.requests.value - sent)
            tracer.count("sources.http_fetch.retries", wl.retries.value - failed)
        _set_trace(tracer, "check")
        wl.check_cycle(rec, start, end)

    before = wl.table_counts()
    _set_trace(tracer, "replay")
    with _root(tracer, "etl.replay"):
        t0 = time.perf_counter()
        gated = wl.replay()
        replay_s = time.perf_counter() - t0
    rec.attempted += len(gated)
    _set_trace(tracer, "check")
    rec.check(gated[0] is None, f"replay E1 gate returned {gated[0]}")
    after = wl.table_counts()
    rec.check(after == before, f"replay inserted rows: {before} -> {after}")
    rec.check(
        _ledger(wl.lake.provider_wm.path).get("cardano_block_transactions") == wl.last_end,
        "watermark moved during replay",
    )

    want = wl.expected_reads()
    _set_trace(tracer, "read")
    for name, fn in queries.items():
        with _root(tracer, f"query.{name}"):
            t0 = time.perf_counter()
            got = fn()
            rec.query_s.append(time.perf_counter() - t0)
        rec.attempted += 1
        rec.check(got == want[name], f"{name}: {got!r} != oracle {want[name]!r}")

    blocks = WINDOW * len(rec.cycle_s)
    rec.notes.append(
        f"cycles={len(rec.cycle_s)} window={WINDOW} blocks/s={blocks / sum(rec.cycle_s):.2f} "
        f"replay_s={replay_s:.3f} read_p50_s={median(rec.query_s):.3f}"
    )
    rec.layers["pipelines.cardano.replay_s"] = replay_s
    rec.layers["pipelines.cardano.blocks_per_s"] = blocks / sum(rec.cycle_s)
    if tracer is not None:
        rec.layers.update(layer_metrics(tracer, wl, len(rec.cycle_s)))
    return rec


# -- tracing ------------------------------------------------------------


def _set_trace(tracer, trace_id: str) -> None:
    if tracer is not None:
        tracer.trace_id = trace_id


def _root(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


def _files_after(path_glob: str, modified_after) -> list[str]:
    """The raw JSON files an incremental zone read selects: Spark's
    ``modifiedAfter`` keeps files strictly newer than the option's
    whole-second timestamp."""
    files = [
        f
        for f in glob.glob(os.path.join(path_glob, "*.json"))
        if not os.path.basename(f).startswith(("_", "."))
    ]
    if modified_after is None:
        return files
    cut = modified_after.replace(microsecond=0).timestamp()
    return [f for f in files if os.path.getmtime(f) > cut]


def _lines(path: str) -> int:
    with open(path, "rb") as f:
        return sum(1 for _ in f)


def install_probes(tracer, wl: EtlWorkload) -> None:
    from datetime import timezone

    import cardano_spark.pipelines.cardano as C
    import cardano_spark.operators.relational as REL

    for fn in ("blocks_to_raw", "block_transactions_to_raw"):
        tracer.wrap(C, fn, "sources.http_fetch")
    tracer.wrap(C, "fetch_json_map", "sources.http_fetch")

    def e2_probe(args, kwargs):
        lake = args[0]

        def after(result):
            if result is not None:
                tracer.count("sinks.merge.rows_in", sum(lake.last_load_counts.values()))

        return after

    for fn in ("raw_blocks_to_table", "raw_block_transactions_to_table"):
        tracer.wrap(C, fn, "pipelines.cardano.e2", e2_probe)

    def zone_probe(args, kwargs):
        path = args[1] if len(args) > 1 else kwargs["path"]
        after = args[3] if len(args) > 3 else kwargs.get("modified_after")
        if after is not None and after.tzinfo is None:
            after = after.replace(tzinfo=timezone.utc)
        rows = sum(_lines(f) for f in _files_after(path, after))
        tracer.count("sources.files.rows_scanned", rows)
        return None

    tracer.wrap(C, "read_json_zone", "sources.files", zone_probe)
    tracer.wrap(C, "max_modified", "sources.files")

    install_state_probes(tracer)
    for fn in ("topk", "missing_children"):
        tracer.wrap(REL, fn, "operators.relational")


def layer_metrics(tracer, wl: EtlWorkload, n_cycles: int) -> dict[str, float]:
    """Per-cycle means over the measured cycles, plus the replay and
    read-phase figures."""
    self_s = tracer.self_times()
    total_s = tracer.totals("s")
    jobs = tracer.totals("jobs")
    cycles = [f"cycle-{i}" for i in range(1, n_cycles + 1)]
    reads = ["read"]
    wall, unattributed = tracer.roots(cycles)
    out = {
        "sources.http_fetch.s": mean(self_s, "sources.http_fetch", cycles),
        "sources.http_fetch.requests": mean(tracer.counters, "sources.http_fetch.requests", cycles),
        "sources.http_fetch.retries": mean(tracer.counters, "sources.http_fetch.retries", cycles),
        "pipelines.cardano.e2_s": mean(self_s, "pipelines.cardano.e2", cycles),
        "sources.files.s": mean(self_s, "sources.files", cycles),
        "sources.files.rows_scanned": mean(tracer.counters, "sources.files.rows_scanned", cycles),
        "sources.files.rows_rescanned_replay": tracer.counters.get(
            ("replay", "sources.files.rows_scanned"), 0.0
        ),
        "sinks.merge.replay_s": total_s.get(("replay", "sinks.merge"), 0.0),
        "sinks.merge.read_s": mean(self_s, "sinks.merge.read", reads),
        "operators.relational.build_s": mean(self_s, "operators.relational", reads),
        "spark.jobs_per_cycle": sum(v for (t, _), v in jobs.items() if t in cycles) / n_cycles,
        "trace.cycle_s": wall / n_cycles,
        "trace.unattributed_s": unattributed / n_cycles,
        "trace.overhead_s": tracer.overhead_s(cycles) / n_cycles,
    }
    out.update(state_metrics(tracer, cycles))
    for name in wl.read_queries():
        out[f"query.{name}_s"] = mean(total_s, f"query.{name}", reads)
    return out
