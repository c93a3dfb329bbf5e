"""Probes on the two state layers every write path goes through: the
merge sink (``sinks.merge``) and the watermark ledger
(``watermark``), and the per-unit metrics drawn from them.

Counts come from the files the layers leave behind (bucket files,
ledger files), read in bookkeeping spans, so they need no Spark job
and are carved out of the layer's own time.
"""

from __future__ import annotations

import glob
import os
import time

import pyarrow.parquet as pq


def bucket_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "_bucket=*", "*.parquet"))


def table_rows(path: str) -> int:
    """Rows of a merge-sink table, from the parquet footers."""
    return sum(pq.read_metadata(f).num_rows for f in bucket_files(path))


def _ledger_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "*.parquet")))


def install_state_probes(tracer) -> None:
    from cardano_spark.sinks.merge import ParquetMergeSink
    from cardano_spark.watermark import ParquetWatermarkStore

    def merge_probe(args, kwargs):
        sink = args[0]
        t0 = time.time()
        rows0 = table_rows(sink.path)

        def after(result):
            tracer.count("sinks.merge.rows_inserted", table_rows(sink.path) - rows0)
            for f in bucket_files(sink.path):
                if os.path.getmtime(f) >= t0:
                    tracer.count("sinks.merge.bytes_written", os.path.getsize(f))
                    tracer.count("sinks.merge.rows_written", pq.read_metadata(f).num_rows)

        return after

    def ledger_probe(args, kwargs):
        store = args[0]
        before = _ledger_files(store.path)

        def after(result):
            tracer.count("watermark.ledger_files", _ledger_files(store.path) - before)

        return after

    tracer.wrap(ParquetMergeSink, "merge", "sinks.merge", merge_probe)
    tracer.wrap(ParquetMergeSink, "read", "sinks.merge.read")
    tracer.wrap(ParquetWatermarkStore, "read_latest", "watermark.read")
    tracer.wrap(ParquetWatermarkStore, "upsert", "watermark.upsert", ledger_probe)


def mean(table: dict[tuple[str, str], float], name: str, traces: list[str]) -> float:
    """Mean over ``traces`` of one span name's entry in a
    (trace id, span name) table."""
    return sum(table.get((t, name), 0.0) for t in traces) / len(traces)


def state_metrics(tracer, traces: list[str]) -> dict[str, float]:
    """Merge-sink and watermark metrics, as means per unit over the
    given trace ids. ``sinks.merge.rows_in`` is counted by the caller,
    which knows how many rows it hands to the merges."""
    self_s = tracer.self_times()
    calls = tracer.totals("calls")
    jobs = tracer.totals("jobs")
    counters = {
        name: mean(tracer.counters, name, traces)
        for name in (
            "sinks.merge.rows_in",
            "sinks.merge.rows_inserted",
            "sinks.merge.rows_written",
            "sinks.merge.bytes_written",
            "watermark.ledger_files",
        )
    }
    rows_in = counters["sinks.merge.rows_in"]
    inserted = counters["sinks.merge.rows_inserted"]
    return {
        "sinks.merge.s": mean(self_s, "sinks.merge", traces),
        "sinks.merge.calls": mean(calls, "sinks.merge", traces),
        "sinks.merge.spark_jobs": mean(jobs, "sinks.merge", traces),
        "sinks.merge.rows_in": rows_in,
        "sinks.merge.rows_inserted": inserted,
        "sinks.merge.useful_ratio": inserted / rows_in if rows_in else 0.0,
        "sinks.merge.bytes_written": counters["sinks.merge.bytes_written"],
        "sinks.merge.write_amp": counters["sinks.merge.rows_written"] / inserted if inserted else 0.0,
        "watermark.read_s": mean(self_s, "watermark.read", traces),
        "watermark.upsert_s": mean(self_s, "watermark.upsert", traces),
        "watermark.calls": mean(calls, "watermark.read", traces) + mean(calls, "watermark.upsert", traces),
        "watermark.spark_jobs": mean(jobs, "watermark.read", traces) + mean(jobs, "watermark.upsert", traces),
        "watermark.ledger_files": counters["watermark.ledger_files"],
    }
