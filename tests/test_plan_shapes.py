"""Physical-plan regression tests: pin the scale-critical plan
properties (pushdown, pruning, broadcast, top-k, no cartesian
blowups) so a refactor that silently degrades the plan fails CI,
not the 100 TB run."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL

QUERIES = entrymod.queries()


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q06_filter_and_projection_pushdown(spark):
    plan = _plan(spark, "q06_filter_pushdown")
    assert "PushedFilters:" in plan
    assert "EqualTo(event_type,purchase)" in plan
    assert "GreaterThan(value,100.0)" in plan
    # ReadSchema pruned to the referenced columns only
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "props" not in read or "value" in read  # 4 needed cols max
    assert "user_id" in read and "lang" not in read


def test_q01_partial_aggregation_and_pruned_scan(spark):
    plan = _plan(spark, "q01_pricing_summary")
    # two-phase agg: map-side partial before the exchange
    assert plan.count("HashAggregate") >= 2
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        assert col not in read  # unused columns pruned from the scan


def test_q03_joins_are_broadcast(spark):
    plan = _plan(spark, "q03_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 3  # customer/nation/region
    assert "CartesianProduct" not in plan


def test_q02_topk_is_take_ordered(spark):
    plan = _plan(spark, "q02_top_parts_by_revenue")
    assert "TakeOrderedAndProject" in plan


def test_q04_anti_join_strategy(spark):
    plan = _plan(spark, "q04_stale_orders_anti_join")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q27_brute_force_is_broadcast_nl(spark):
    plan = _plan(spark, "q27_ann_brute_topk")
    assert "BroadcastNestedLoopJoin" in plan  # corpus never shuffled for scoring


def test_dedup_pair_queries_never_cartesian(spark):
    for name in (
        "q22_minhash_lsh_neardup",
        "q24_simhash_neardup_pairs",
        "q25_ngram_jaccard_pairs",
        "q26_embedding_neardup_topk",
        "q36_ann_ivf_topk",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, f"{name} fell back to cartesian"


def test_q42_vocab_topk_partial_agg_then_take_ordered(spark):
    plan = _plan(spark, "q42_vocab_topk")
    assert plan.count("HashAggregate") >= 2  # map-side partial count
    assert "TakeOrderedAndProject" in plan  # top-k never global-sorts
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "text" in read and "lang" not in read  # scan pruned to text


def test_q43_topn_per_group_two_phase(spark):
    """Two-phase per-group top-k: phase 1 pre-prunes per hash BUCKET
    (window keyed by (_bkt, flag) — B*|groups| parallel small sorts,
    layout-independent since r12), phase 2 windows the survivors.
    The single-window form funneled the whole table into |groups|=3
    sort tasks — the pin is that BOTH windows exist and the first is
    keyed by the deterministic bucket."""
    plan = _plan(spark, "q43_topn_per_group")
    assert plan.count("Exchange") == 2  # phase-1 key + group key
    assert "_bkt" in plan  # pre-prune window keyed by hash bucket
    assert "xxhash64" in plan  # deterministic, not spark_partition_id
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_q41_split_is_shuffle_free(spark):
    plan = _plan(spark, "q41_stratified_split")
    assert "Exchange" not in plan  # pure projection over the scan


def test_q22_band_exchanges_carry_no_shingle_arrays(spark):
    """The LSH band self-join must shuffle only (id, band) rows; the
    shingle arrays join back by id AFTER candidate dedup. An
    array-bearing band exchange is the 100-TB scale liability this
    pins against."""
    df = QUERIES["q22_minhash_lsh_neardup"](spark, SF_SMALL)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    txt = df._jdf.queryExecution().explainString(mode)
    band_nodes = 0
    for block in txt.split("\n\n"):
        head = block.strip().splitlines()[0] if block.strip() else ""
        if "Exchange" not in head and "Join" not in head:
            continue
        lines = [
            ln for ln in block.splitlines() if ln.startswith(("Input", "Arguments"))
        ]
        joined = " ".join(lines)
        if "band_val" in joined:
            band_nodes += 1
            assert "_sh" not in joined and "sh_a" not in joined and "sh_b" not in joined
    assert band_nodes >= 1  # the band self-join exchange/join exists


def test_q37_html_parse_is_jvm_side(spark):
    """The default (regex) parse path must be built-in expressions —
    no Python evaluation node (mapInPandas is reserved for the
    BS4-gated real-HTML branch)."""
    plan = _plan(spark, "q37_html_field_extraction")
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert node not in plan
    assert "Exchange" not in plan  # narrow projection, shuffle-free


def test_q45_codec_is_shuffle_free_projection(spark):
    """The PG-array codec round-trip is pure column expressions: no
    exchange, no Python nodes, scan pruned to the used columns."""
    plan = _plan(spark, "q45_pg_array_codec")
    assert "Exchange" not in plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "p_retailprice" not in read  # unused column pruned


def test_q49_q50_media_transforms_single_python_stage_no_shuffle(spark):
    """Media resize / frame-sample are one Arrow-batched mapInPandas
    over a pruned scan — exactly one Python stage, zero exchanges
    (payloads are born and consumed executor-side, never reshuffled
    or driver-collected)."""
    for name in ("q49_image_resize", "q50_audio_frame_sample"):
        plan = _plan(spark, name)
        assert plan.count("MapInPandas") == 1, name
        assert "Exchange" not in plan, name
        read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
        assert "text" not in read, name  # only doc_id scanned


def test_q51_batch_sessionize_is_single_shuffle_session_window(spark):
    """The session_window aggregation (batch twin of the streaming
    q51) must shuffle once on user_id and merge sessions map-side —
    no extra exchange, no sort-based fallback re-shuffle."""
    from cardano_spark.catalog import table
    from cardano_spark.streaming.jobs import sessionize_stream

    df = sessionize_stream(table(spark, SF_SMALL, "events"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "CartesianProduct" not in plan


def test_q52_market_share_broadcasts_dimension_chain(spark):
    """The 5-table market-share join must broadcast every dimension
    (no fact-side SortMergeJoin) — one shuffle for the per-order
    collapse, one for the 7-row year group-by."""
    plan = _plan(spark, "q52_market_share")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q53_large_orders_collapses_before_joins(spark):
    """The HAVING aggregate must collapse lineitem BEFORE any join
    (the join input is the filtered per-order frame, not row-level
    lineitem), customer broadcasts, and the top-100 is
    TakeOrderedAndProject — no global sort."""
    plan = _plan(spark, "q53_large_orders")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # the aggregate subtree sits under the join, scanning lineitem
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1


def test_q54_kmv_sketch_is_dedup_then_takeordered(spark):
    """The KMV sketch must dedup via partial hash-agg (exchange
    carries distinct hashes only) and pick the k minima with
    TakeOrderedAndProject — never a global sort of the corpus."""
    plan = _plan(spark, "q54_kmv_distinct_sketch")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2  # map-side partial dedup
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "user_id" in read and "props" not in read


def test_q55_tfidf_three_hash_exchanges_no_vocab_broadcast_join(spark):
    """tf-idf must shuffle exactly three times — (doc_id, token)
    agg, token window for df, doc_id window for top-3 — with the
    corpus count as the only broadcast (1 row). A vocabulary
    broadcast-join would OOM the driver at a 100M-term corpus."""
    import re

    plan = _plan(spark, "q55_tfidf_top_terms")
    hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hashes) == 3, hashes
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" not in plan  # df comes from the window, not a join


def test_q47_multiprobe_is_bucket_equijoin(spark):
    """Multi-probe LSH must stay a bucket equi-join (query side
    broadcast, 9x fan-out on the tiny side only) — never a nested
    loop over the corpus."""
    plan = _plan(spark, "q47_ann_multiprobe_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q63_quantiles_partial_agg_single_exchange(spark):
    """Exact percentiles must run as a true partial aggregation —
    per-partition value maps merged after ONE hash exchange on the
    group key — never a per-group sort or a global collect."""
    import re

    plan = _plan(spark, "q63_grouped_quantiles")
    # percentile is a TypedImperativeAggregate -> ObjectHashAggregate,
    # and it must appear in both partial and final form
    assert plan.count("ObjectHashAggregate") >= 2
    hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hashes) == 1, hashes
    assert "Sort" not in plan.split("ObjectHashAggregate")[0]
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "n_chars" in read and "text" not in read


def test_q64_mixture_plan_single_corpus_scan(spark):
    """The mixture planner must scan the corpus ONCE: per-source
    partial agg, then corpus totals via a window over the |sources|-row
    aggregate — not a second lineage that re-scans the fact table."""
    plan = _plan(spark, "q64_source_mixture_plan")
    assert plan.count("FileScan") == 1, plan.count("FileScan")
    assert "Window" in plan
    # the single-partition exchange moves only the aggregated frame
    assert plan.index("Exchange SinglePartition") < plan.index("FileScan")
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "source" in read and "doc_id" not in read


def test_q66_incremental_band_exchanges_carry_no_arrays(spark):
    """Incremental dedup inherits q22's discipline: every band-join
    exchange ships (id, band) rows only; shingle arrays join back by
    id after candidate dedup."""
    df = QUERIES["q66_incremental_neardup"](spark, SF_SMALL)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    txt = df._jdf.queryExecution().explainString(mode)
    band_nodes = 0
    for block in txt.split("\n\n"):
        head = block.strip().splitlines()[0] if block.strip() else ""
        if "Exchange" not in head and "Join" not in head:
            continue
        lines = [
            ln for ln in block.splitlines() if ln.startswith(("Input", "Arguments"))
        ]
        joined = " ".join(lines)
        if "band_val" in joined:
            band_nodes += 1
            assert "_sh" not in joined and "sh_a" not in joined and "sh_b" not in joined
    assert band_nodes > 0


def test_q67_decontamination_broadcast_and_partial_max(spark):
    """The benchmark side must broadcast (never shuffle the corpus
    for the pairing) and the per-vector max must partial-aggregate
    map-side before the single id exchange."""
    plan = _plan(spark, "q67_semantic_decontamination")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2
    import re

    hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hashes) == 1 and "vec_id" in hashes[0], hashes


def test_q68_sliding_windows_expand_not_join(spark):
    """The 4-windows-per-event assignment must be the map-side Expand
    projection with partial aggregation — never a join against a
    window table, and exactly one hash exchange."""
    import re

    plan = _plan(spark, "q68_sliding_window_rollup")
    assert "Expand" in plan
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2
    hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hashes) == 1, hashes


def test_q69_funnel_collapses_signups_before_join(spark):
    """The signup side must aggregate to one row per user BEFORE the
    purchase join (the join carries |users|, not |events|), and both
    event slices must push their event_type filter to the scan."""
    plan = _plan(spark, "q69_conversion_funnel")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("EqualTo(event_type,signup)") >= 1
    assert plan.count("EqualTo(event_type,purchase)") >= 1
    # an aggregate subtree exists under the join (signup collapse)
    join_pos = plan.find("Join")
    assert join_pos != -1 and "HashAggregate" in plan[join_pos:]


def test_q70_cube_is_expand_plus_single_exchange(spark):
    plan = _plan(spark, "q70_cube_order_stats")
    # grouping sets materialize via map-side Expand, not a union of scans
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1
    # one partial-agg hash exchange over the expanded keys
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2


def test_q71_pivot_is_one_pass_no_domain_discovery_join(spark):
    plan = _plan(spark, "q71_pivot_priority_status")
    # declared-domain pivot: one scan, one agg exchange, no join
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "o_totalprice" not in read  # unused column pruned


def test_q74_hll_register_exchange_then_scalar_reduce(spark):
    plan = _plan(spark, "q74_hll_distinct_sketch")
    # partial agg on <=512 register keys, then the 1-row reduce
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" in plan
    assert "IsNotNull(user_id)" in plan  # filter reaches the scan
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "props" not in read and "value" not in read


def test_q74_hll_estimate_close_to_truth(spark):
    import math

    row = QUERIES["q74_hll_distinct_sketch"](spark, SF_SMALL).collect()[0]
    truth = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    # sf0.001 sits deep in the small-range regime (truth << m), where
    # the standard estimator is linear counting from the register
    # occupancy the query emits — the downstream correction documented
    # in the query contract
    m, v = row["m"], row["m"] - row["n_present"]
    est = m * math.log(m / v) if row["raw_estimate"] <= 2.5 * m else row["raw_estimate"]
    assert abs(est - truth) / truth < 0.15


def test_q75_sampler_applies_plan_without_corpus_shuffle_blowup(spark):
    plan = _plan(spark, "q75_mixture_sampler")
    # the mixture plan rides back onto the corpus as a broadcast join
    assert "BroadcastHashJoin" in plan
    # corpus-side exchanges: the q64 planning agg on source + the
    # final audit agg on source — and nothing else (the keep/drop
    # filter itself is a map-side expression)
    assert plan.count("Exchange hashpartitioning") <= 2


def test_q79_stratum_sample_single_exchange(spark):
    plan = _plan(spark, "q79_per_stratum_sample")
    # one stratum-key exchange feeding the per-stratum window sort
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "text" not in read  # hash is over doc_id; text never read


def test_q80_anomaly_windows_share_one_exchange(spark):
    plan = _plan(spark, "q80_trailing_anomaly")
    # both decimal frame-sums ride the same user_id sort/partitioning
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 1


def test_q85_quantized_rerank_corpus_never_shuffled_for_scoring(spark):
    plan = _plan(spark, "q85_quantized_ann_rerank")
    # candidate stage: quantized codes meet broadcast queries (NL on
    # the tiny side); rerank probes the corpus BY ID via broadcast —
    # the corpus itself is never exchanged
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q86_cms_cells_exchange_not_tokens(spark):
    plan = _plan(spark, "q86_countmin_heavy_hitters")
    # sketch build: partial agg before the exchange (cells travel,
    # not raw tokens); candidate probe joins the broadcast sketch
    assert plan.count("HashAggregate") >= 4  # partial+final x (cells, top)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # exact top-10 never global-sorts


def test_q81_boilerplate_exchanges_bounded(spark):
    plan = _plan(spark, "q81_boilerplate_spans")
    # corpus-internal span df: distinct + span count agg + span
    # re-join + per-doc rollup — exchanges bounded, never cartesian.
    # The join strategy is deliberately Catalyst's: at sf0.001 the
    # aggregated span-count side is tiny and broadcasts; at corpus
    # scale stats push it to a shuffle join — both are correct.
    assert plan.count("Exchange hashpartitioning") <= 4
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_q82_snapshot_diff_single_full_outer(spark):
    plan = _plan(spark, "q82_snapshot_diff")
    assert "FullOuter" in plan
    assert plan.count("Join") == 1
    assert "CartesianProduct" not in plan


def test_q83_retention_collapses_users_before_rejoin(spark):
    plan = _plan(spark, "q83_retention_matrix")
    # cohort side aggregates to one row per user before the re-join
    assert plan.count("HashAggregate") >= 4  # cohorts + distinct + matrix partials
    assert "CartesianProduct" not in plan


def test_q84_funnel_stage_chain_no_cartesian(spark):
    plan = _plan(spark, "q84_ordered_funnel")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q89_salted_agg_two_phase_with_salt_key(spark):
    plan = _plan(spark, "q89_salted_heavy_key_agg")
    # phase 1 exchange carries the salt; the final exchange only the key
    assert "_salt" in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("HashAggregate") >= 4  # partial+final per phase


def test_q90_gapfill_grid_is_mapside_sequence_not_generator_join(spark):
    plan = _plan(spark, "q90_gapfill_forward_fill")
    # the dense grid comes from explode(sequence(...)) — a projection,
    # never a join against a generated calendar table
    assert "Generate explode" in plan or "Generate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q92_rank_suite_single_window_single_exchange(spark):
    plan = _plan(spark, "q92_window_rank_suite")
    # all four ranking functions share one sort/partitioning
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "PushedFilters: [IsNotNull(o_custkey), LessThan(o_custkey,100)" in plan


def test_q93_fuzzy_join_is_blocked_broadcast_not_cartesian(spark):
    plan = _plan(spark, "q93_fuzzy_match_join")
    assert "BroadcastHashJoin" in plan  # equi on the block key
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q101_sweep_partitions_by_day_no_global_sort(spark):
    plan = _plan(spark, "q101_peak_concurrency")
    # the running sum partitions by (type, day) — never a
    # single-partition global window or a whole-timeline range sort
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" not in plan
    assert plan.count("Window") == 1
    assert "hashpartitioning(event_type" in plan


def test_q102_pairs_blocked_by_order(spark):
    plan = _plan(spark, "q102_copurchase_pairs")
    # pair generation explodes per-order part lists — no self-join of
    # the part domain, no cartesian
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan or "Generate" in plan
    assert "TakeOrderedAndProject" in plan


def test_q103_token_plan_single_scan(spark):
    plan = _plan(spark, "q103_token_mixture_plan")
    assert plan.count("Scan parquet") == 1  # totals via window, not a re-scan
    assert "CartesianProduct" not in plan


def test_q104_dedup_apply_no_cartesian(spark):
    plan = _plan(spark, "q104_dedup_apply")
    assert "CartesianProduct" not in plan
    # the apply step is a LEFT join of the tiny drop list, never a
    # corpus-corpus join beyond the q44 blocking graph
    assert "BroadcastNestedLoopJoin" not in plan


def test_broadcast_gate_small_regime_applies_hint(spark):
    """broadcast_if_small: at bench SF the gate measures the scan
    files under threshold and applies the hint (so the q03/q02 pins
    above keep holding for their measured regime)."""
    from cardano_spark.catalog import table
    from cardano_spark.operators.relational import broadcast_if_small, scan_bytes

    c = table(spark, SF_SMALL, "customer")
    sz = scan_bytes(c)
    assert sz is not None and sz > 0  # file-backed scan is measurable
    hinted = broadcast_if_small(c, threshold_bytes=sz)
    logical = hinted._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in logical


def test_broadcast_gate_big_regime_drops_hint(spark):
    """Above the threshold the gate returns the frame UNCHANGED — no
    forced hint, Catalyst/AQE decide from runtime stats. This is the
    100 TB contract: customer/part/supplier grow with SF, so a pinned
    F.broadcast would be an OOM bomb there."""
    from cardano_spark.catalog import table
    from cardano_spark.operators.relational import broadcast_if_small, scan_bytes

    c = table(spark, SF_SMALL, "customer")
    sz = scan_bytes(c)
    ungated = broadcast_if_small(c, threshold_bytes=sz - 1)
    assert ungated is c  # identity: zero plan mutation above the gate


def test_broadcast_gate_unknown_size_means_no_hint(spark):
    """A frame with no measurable input files (in-memory range, or a
    remote filesystem at deploy time) must NOT be force-broadcast:
    unknown size is treated as big."""
    from cardano_spark.operators.relational import broadcast_if_small, scan_bytes

    mem = spark.range(3).toDF("k")
    assert scan_bytes(mem) is None
    assert broadcast_if_small(mem) is mem


def test_broadcast_gate_derived_frame_uses_scan_upper_bound(spark):
    """scan_bytes of a filtered/joined frame sums the base files — an
    upper bound on the broadcast side, so derived frames (q52's
    asia_cust) gate on their worst case, never on an estimate that
    could under-count."""
    import os

    from cardano_spark.catalog import table
    from cardano_spark.operators.relational import scan_bytes
    from tests.conftest import SF_SMALL as SD

    c = table(spark, SD, "customer")
    n = table(spark, SD, "nation")
    derived = c.join(n, c.c_nationkey == n.n_nationkey).filter("c_acctbal > 0")
    got = scan_bytes(derived)
    want = os.path.getsize(os.path.join(SD, "customer.parquet")) + os.path.getsize(
        os.path.join(SD, "nation.parquet")
    )
    assert got == want


def test_q03_gated_queries_env_override(spark, monkeypatch):
    """A broadcast gate of 0 bytes simulates the big regime on the full
    queries: every gated site must build WITHOUT a forced hint (the
    plan may still broadcast — Catalyst's own thresholds — but no
    ResolvedHint appears), and results stay correct."""
    import cardano_spark.operators.relational as REL

    gate = REL.DEFAULT_BROADCAST_GATE_BYTES
    monkeypatch.setattr(REL, "DEFAULT_BROADCAST_GATE_BYTES", 0)
    for name in (
        "q02_top_parts_by_revenue",
        "q03_region_revenue",
        "q52_market_share",
        "q53_large_orders",
        "q94_supplier_diversity",
        "q99_promo_revenue_share",
    ):
        df = QUERIES[name](spark, SF_SMALL)
        logical = df._jdf.queryExecution().analyzed().toString()
        # q03/q52 keep ResolvedHint for nation/region (true dims) —
        # count the hints and compare against the ungated run
        monkeypatch.setattr(REL, "DEFAULT_BROADCAST_GATE_BYTES", gate)
        full = QUERIES[name](spark, SF_SMALL)
        full_hints = full._jdf.queryExecution().analyzed().toString().count(
            "ResolvedHint"
        )
        monkeypatch.setattr(REL, "DEFAULT_BROADCAST_GATE_BYTES", 0)
        assert logical.count("ResolvedHint") < full_hints
        assert df.count() == full.count()


def test_q107_chunking_is_shuffle_free(spark):
    """Document chunking is ONE scan + map-side sequence/explode/slice
    — no exchange, no UDF: the shape that chunks a 100 TB corpus at
    scan speed."""
    plan = _plan(spark, "q107_document_chunks")
    assert "Exchange" not in plan
    assert "Generate explode" in plan or "Generate" in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Scan parquet") == 1


def test_q108_multitable_bucket_join_shape(spark):
    """Multi-table LSH: the bucket join is a broadcast equi-join of
    SLIM (id, table, bucket) frames — never a cartesian, and corpus
    vector arrays enter only the final by-id score join."""
    plan = _plan(spark, "q108_ann_multitable_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q121_temperature_mixture_semantics_and_single_scan(spark):
    """alpha=0.5 sits between proportional (alpha=1) and flat
    (alpha=0): below-average sources get boost > 1, above-average
    boost < 1, both share vectors sum to 1 — and the corpus is
    scanned once (totals via windows over the |sources|-row
    aggregate)."""
    from cardano_spark.plans.trainingdata import q121_temperature_mixture

    rows = q121_temperature_mixture(spark, SF_SMALL).collect()
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-12
    assert abs(sum(r.temp_share for r in rows) - 1.0) < 1e-12
    import math

    # boost = T / (D * sqrt(n)): > 1 exactly below the (T/D)^2
    # crossover — sources with fewer tokens than that are up-sampled
    total = sum(r.n_tokens for r in rows)
    denom = sum(math.sqrt(r.n_tokens) for r in rows)
    crossover = (total / denom) ** 2
    assert any(r.n_tokens < crossover for r in rows)
    assert any(r.n_tokens > crossover for r in rows)
    for r in rows:
        if r.n_tokens < crossover:
            assert r.boost > 1.0, r  # tail up-sampled
        elif r.n_tokens > crossover:
            assert r.boost < 1.0, r  # head damped
        assert 0.0 < r.keep_rate <= 1.0
    # tempering preserves ORDER but compresses spread: the share
    # ratio between any two sources is the sqrt of the token ratio
    rows = sorted(rows, key=lambda r: r.n_tokens)
    a, b = rows[0], rows[-1]
    assert (a.temp_share / b.temp_share) == pytest.approx(
        math.sqrt(a.n_tokens / b.n_tokens), rel=1e-9
    )
    plan = _plan(spark, "q121_temperature_mixture")
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2
    assert "CartesianProduct" not in plan



def test_bounded_unpartitioned_windows_sit_above_limits(spark):
    """The deliberate unpartitioned windows in similarity.py (PQ
    codebook k-index seeds, RRF fuse) are bounded by construction:
    the Window's input is a GlobalLimit(n_centroids) frame or a
    probe-sized union of topk-cut ranked lists — never the corpus.
    Pin the plan shape so a refactor that drops the bound (turning
    the benign WindowExec warning into a real single-partition
    funnel) fails here, not on the 100 TB run."""
    from pyspark.sql import functions as F

    from cardano_spark.catalog import table
    from cardano_spark.operators import similarity as SIM

    e = table(spark, SF_SMALL, "embeddings")

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    # 1. pq_codebook seed: the Window's child chain must contain the
    # GlobalLimit(n_centroids) — limit below window in the tree.
    plan = optimized(SIM.pq_codebook(e, "vec_id", "embedding", n_centroids=16))
    wpos, lpos = plan.find("Window"), plan.find("GlobalLimit 16")
    assert wpos != -1 and lpos != -1
    assert lpos > wpos, "limit must be the window's descendant"

    # 2. rrf_fuse: the window input is the per-id aggregate of the
    # unioned ranked lists, each topk-cut upstream by contract
    # (ann_topk emits rank <= k). The optimized plan must show the
    # Window above the Aggregate above the Union — and the inputs
    # here are rank-filtered top-k frames, not bare scans.
    topk = SIM.ann_topk(
        e, e.filter(F.col("vec_id") < 2), "vec_id", "embedding",
        k=5, strategy="brute",
    ).select(F.col("match_id").alias("vec_id"), "rank")
    plan = optimized(SIM.rrf_fuse([topk, topk], "vec_id", topk=3))
    w = plan.find("Window")
    assert w != -1
    assert plan.find("Union", w) > w
    assert plan.count("rank") >= 2
