"""The ``--trace 1`` tracer in ``perfbench/`` patches package
functions by name from outside the package, so deleting or renaming
one of them breaks the traced benchmark without failing any package
test. This runs both workloads' ``install_probes`` against a stand-in
tracer that only resolves each name it is given; no Spark job runs."""

from __future__ import annotations

import importlib
import os
import sys

from tests.conftest import REPO

PERFBENCH = os.path.join(REPO, "perfbench")


class _Resolver:
    """The tracer's ``wrap`` surface, reduced to the lookup the real
    one makes before patching."""

    def __init__(self):
        self.bound: list[str] = []

    def wrap(self, owner, attr, layer, probe=None):
        getattr(owner, attr)
        self.bound.append(f"{owner.__name__}.{attr}")


def _perfbench_module(name: str):
    sys.path.insert(0, PERFBENCH)
    try:
        return importlib.import_module(name)
    finally:
        sys.path.remove(PERFBENCH)


def test_trace_probes_resolve_every_patched_name():
    tracer = _Resolver()
    _perfbench_module("etl").install_probes(tracer, None)
    _perfbench_module("corpus_analytics").install_probes(tracer)
    assert {
        "cardano_spark.pipelines.cardano.read_json_zone",
        "cardano_spark.pipelines.cardano.max_modified",
        "ParquetMergeSink.merge",
        "ParquetWatermarkStore.upsert",
        "cardano_spark.pipelines.corpus.build_corpus_incremental",
    } <= set(tracer.bound)
