"""CLI entry points mirroring the reference's click pipelines
(cardano_transactions_full_pipeline_w_params.py:60-63 ``--start-block
--end-block``; per-pipeline mains in src/etl_pipelines/*.py). A
reference user runs the same stages with the same parameters:

    python -m cardano_spark blocks        --root /data/lake
    python -m cardano_spark block-tx      --root /data/lake
    python -m cardano_spark full-tx       --root /data/lake \\
        --start-block 11292700 --end-block 11294699 --window 1000

The watermark-gated pipelines (blocks / block-tx) self-schedule off
the import-status stores exactly like the reference's non-param
variants (J4); ``full-tx`` takes the explicit window range of the
``_w_param`` CLIs. ``--base-url`` points at a Blockfrost-compatible
API; the transport is urllib with the R2 retry schedule.
"""

from __future__ import annotations

import argparse
import sys
from collections.abc import Callable


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="cardano_spark")
    p.add_argument(
        "--root",
        help="lake root (dir or s3a:// URI); required for pipeline commands",
    )
    p.add_argument(
        "--base-url",
        default="https://cardano-mainnet.example/api/v0",
        help="Blockfrost-compatible API base",
    )
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("blocks", help="E1+E2 for blocks (watermark-gated)")
    sub.add_parser("block-tx", help="E1+E2 for block->tx lists (gated on blocks)")
    full = sub.add_parser("full-tx", help="E3 windowed tx+utxo pipeline")
    full.add_argument("--start-block", type=int, required=True)
    full.add_argument("--end-block", type=int, required=True)
    full.add_argument("--window", type=int, default=1000)
    norm = sub.add_parser(
        "normalize-events",
        help="one-shot rewrite of a nanos-ts events dataset to "
        "pushdown-friendly micros parquet",
    )
    norm.add_argument("--src", required=True, help="events parquet path")
    norm.add_argument("--dest", required=True, help="output parquet path")
    shards = sub.add_parser(
        "export-shards",
        help="export a parquet dataset as deterministic, bounded, "
        "manifest-backed training shards (sinks/shards.py)",
    )
    shards.add_argument("--src", required=True, help="input parquet path")
    shards.add_argument("--dest", required=True, help="shard output dir")
    shards.add_argument("--key", required=True, help="id column for the content-hash shard key")
    shards.add_argument("--shards", type=int, default=8)
    shards.add_argument("--max-rows-per-file", type=int, default=None)
    shards.add_argument(
        "--format",
        choices=("parquet", "jsonl"),
        default="parquet",
        dest="shard_format",
        help="shard serialization: parquet (default) or jsonl "
        "(newline-delimited JSON, the loader-facing wire format); "
        "jsonl is batch-mode only",
    )
    shards.add_argument(
        "--incremental",
        action="store_true",
        help="diff-export: stable hash-mod shard membership + per-shard "
        "content digests in the manifest; rewrite only shards whose "
        "content changed since the previous export "
        "(sinks/shards.py::write_training_shards_incremental)",
    )
    corpus = sub.add_parser(
        "build-corpus",
        help="end-to-end corpus build: exact + near-dup dedup, optional "
        "benchmark decontamination, quality gate, sharded export with "
        "manifest and per-stage audit (pipelines/corpus.py)",
    )
    corpus.add_argument("--src", required=True, help="documents parquet path")
    corpus.add_argument("--dest", required=True, help="shard output dir")
    corpus.add_argument(
        "--benchmark", default=None, help="eval-set parquet (text column)"
    )
    corpus.add_argument(
        "--retract-benchmark",
        default=None,
        help="late-arriving eval-set parquet (text column): previously"
        "-exported docs contaminated against it are key-deleted (drop "
        "mode) or re-cut and rewritten (cut mode) in the survivor "
        "state and the shards via the delta exporter; the arriving "
        "batch gates against the union (incremental only)",
    )
    corpus.add_argument("--neardup-threshold", type=float, default=0.8)
    corpus.add_argument("--contamination-max", type=float, default=0.5)
    corpus.add_argument(
        "--decontam-mode",
        choices=("drop", "cut"),
        default="drop",
        help="drop: q58 whole-document gate; cut: q177 span-level "
        "excision of verbatim benchmark spans (keeps the document). "
        "NOTE in incremental mode, cut retains every post-dedup "
        "doc's PRE-cut original under dest/_state/precut forever "
        "(~2x text storage) — the raw material later retractions "
        "re-cut; it cannot be compacted without losing re-admission "
        "semantics. Storage-constrained deployments use drop",
    )
    corpus.add_argument("--min-quality", type=float, default=0.0)
    corpus.add_argument("--min-tokens", type=int, default=1)
    corpus.add_argument("--shards", type=int, default=8)
    corpus.add_argument(
        "--target",
        default=None,
        help="DSIR target-corpus parquet (text column); requires --select-top",
    )
    corpus.add_argument(
        "--select-top",
        type=int,
        default=None,
        help="keep the N most target-like survivors (DSIR, q118's gate)",
    )
    corpus.add_argument(
        "--token-budget-points",
        type=int,
        default=None,
        help="systematic PPS draw with N points on the token stream (q120)",
    )
    corpus.add_argument(
        "--split-mode",
        choices=["doc", "cluster_safe"],
        default=None,
        help="80/10/10 train/val/test export: 'doc' = q41's per-document "
        "content-hash rule; 'cluster_safe' = q137's near-dup-cluster rule "
        "(no verified near-dup pair straddles a boundary by construction)",
    )
    corpus.add_argument(
        "--shuffle-order",
        action="store_true",
        help="export in q140's deterministic epoch-0 shuffle order "
        "(contiguous position-range shards, internally ordered)",
    )
    corpus.add_argument(
        "--paragraph-dedup",
        action="store_true",
        help="run q178's paragraph-grain dedup first (CCNet stage 1: "
        "content-defined chunks, keep-first, verbatim rebuild; "
        "fully-claimed documents drop). Incremental runs keep a "
        "persisted paragraph-digest index under dest/_state",
    )
    corpus.add_argument(
        "--normalize",
        action="store_true",
        help="normalize text before every gate (curation.normalize_text: "
        "zero-width/control strip, typographic punctuation to ASCII, "
        "whitespace collapse — the C4/CCNet pre-hashing cleanup)",
    )
    corpus.add_argument(
        "--pack-budget",
        type=int,
        default=None,
        help="annotate the export with q60 packing columns (seq_id, "
        "seq_offset) for N-token training sequences over the export order",
    )
    corpus.add_argument(
        "--emit-attributes",
        action="store_true",
        help="write a per-input-document attribute/provenance ledger "
        "(tagger columns + survived_<stage> flags) under dest/_attributes",
    )
    corpus.add_argument(
        "--quality-rules",
        choices=["gopher"],
        default=None,
        help="additionally require the full Gopher rule stack (q159: "
        "word-count/mean-length bounds, symbol/bullet/ellipsis ratios, "
        "alpha fraction, required stopwords) in the quality gate",
    )
    corpus.add_argument(
        "--export-format",
        choices=("parquet", "jsonl"),
        default="parquet",
        help="shard serialization for the batch export (jsonl = "
        "newline-delimited JSON; incremental mode is parquet-only)",
    )
    corpus.add_argument(
        "--incremental",
        action="store_true",
        help="watermark-gated arrival-batch mode "
        "(pipelines/corpus.py::build_corpus_incremental): only doc_id > "
        "watermark rows enter, dedup probes the persisted digest/band "
        "state under dest/_state, and only changed shards rewrite — a "
        "drop pays |new| gate work. Near-dup rule is keep_first_pairwise "
        "(convergence-tested against the batch build); corpus-global "
        "stages (--target/--select-top/--token-budget-points/"
        "--split-mode/--shuffle-order/--pack-budget/--emit-attributes) "
        "are rejected",
    )
    corpus.add_argument(
        "--neardup-rule",
        choices=["cluster_longest", "keep_first_pairwise"],
        default="cluster_longest",
        help="batch-mode near-dup drop rule: cluster_longest = connected "
        "components + longest-doc representative (q104); "
        "keep_first_pairwise = drop any doc pairing with a smaller id "
        "(the rule the incremental mode reproduces exactly)",
    )
    corpus.add_argument(
        "--embeddings",
        default=None,
        help="optional (doc_id, embedding) parquet switching on the "
        "SEMANTIC dedup stage (q109's SemDeDup flags between near-dup "
        "and decontamination — the D4 ordering). Batch mode "
        "self-seeds with auto-routed assignment; incremental mode "
        "freezes a centroid model from the first embedding-bearing "
        "batch (dest/_state/semantic_model) and serves arrivals "
        "under it (q190's form). Docs without an embedding row are "
        "kept",
    )
    corpus.add_argument(
        "--semantic-threshold",
        type=float,
        default=0.25,
        help="cosine above which a same-cluster smaller-id doc flags "
        "an arrival as a semantic duplicate",
    )
    corpus.add_argument(
        "--semantic-occupancy-cap",
        type=int,
        default=None,
        help="batch only: run the semantic stage in the "
        "occupancy-capped regime (k = ceil(n/cap) clusters, "
        "three-level assignment tree, LINEAR within-cluster pair "
        "join — the 100 TB form; see the q193/q194 operators)",
    )
    corpus.add_argument(
        "--semantic-refresh",
        choices=("off", "auto"),
        default="off",
        help="incremental only: 'auto' EXECUTES a q192-advised model "
        "refresh (warm-start Lloyd candidate -> model_version + 1; "
        "shipped flags stay shipped, persisted assignments migrate "
        "lazily, next batch serves the new model)",
    )
    maintain = sub.add_parser(
        "maintain",
        help="table maintenance for a ParquetMergeSink table: compact "
        "small files per bucket and/or rewrite to a new bucket count "
        "(sinks/merge.py::compact/rebucket — the operational runbook "
        "step the reference's README implies for its warehouse tables)",
    )
    maintain.add_argument("--path", required=True, help="merge-sink table root")
    maintain.add_argument(
        "--keys", required=True,
        help="comma-separated primary-key columns (the merge keys)",
    )
    maintain.add_argument(
        "--compact", action="store_true",
        help="rewrite buckets whose file count exceeds the target "
        "(one manifest version; untouched buckets never opened)",
    )
    maintain.add_argument("--max-files-per-bucket", type=int, default=1)
    maintain.add_argument(
        "--target-file-bytes", type=int, default=None,
        help="size-based target: each bucket rewrites to "
        "ceil(bucket_bytes/target) files (+1 hysteresis)",
    )
    maintain.add_argument(
        "--rebucket", type=int, default=None,
        help="rewrite the WHOLE table into N hash buckets, in one "
        "version (O(table) by nature). Merges grow the count on their "
        "own, to about one scan split per bucket, and never shrink it; "
        "this is the manual path, e.g. to shrink a table",
    )
    scrape = sub.add_parser(
        "scrape-companies",
        help="the ideascale company-link pipeline (S15->C12->C10->K6): "
        "render profile URLs, extract + normalize company links, write CSV "
        "(reference ideascale/get_company_link_ideascale.py main)",
    )
    scrape.add_argument("--urls-csv", required=True, help="input CSV with a url column")
    scrape.add_argument("--url-col", default="url")
    scrape.add_argument("--dest", required=True, help="output CSV dir")
    scrape.add_argument(
        "--rps", type=float, default=1.0, help="per-partition request rate cap"
    )
    scrape.add_argument("--partitions", type=int, default=4)
    scrape.add_argument(
        "--wait-css",
        default="a.unfurl-url.classic-link",
        help="selector the renderer waits for (reference default)",
    )
    return p


def main(
    argv: list[str] | None = None,
    transport: Callable[[str], bytes] | None = None,
    render: Callable[[str], str] | None = None,
) -> int:
    """``transport``/``render`` are injectable for tests (None =
    urllib with R2 retries / the import-gated selenium renderer)."""
    args = build_parser().parse_args(argv)

    from cardano_spark.pipelines import cardano
    from cardano_spark.session import get_spark
    from cardano_spark.sources.http_fetch import default_transport

    spark = get_spark("cardano-spark-cli")
    if args.cmd == "normalize-events":
        from cardano_spark.catalog import normalize_events

        n = normalize_events(spark, args.src, args.dest)
        print(f"normalized {n} events -> {args.dest}")
        return 0
    if args.cmd == "export-shards":
        from pyspark.sql import functions as F

        from cardano_spark.functions.hashing import md5_long
        from cardano_spark.sinks.shards import (
            write_training_shards,
            write_training_shards_incremental,
        )

        if args.incremental:
            if args.shard_format != "parquet":
                print(
                    "error: --format jsonl is batch-mode only (the "
                    "incremental digest fold reads parquet back)",
                    file=sys.stderr,
                )
                return 2
            res = write_training_shards_incremental(
                spark.read.parquet(args.src),
                args.dest,
                args.key,
                args.shards,
                args.max_rows_per_file,
            )
            m = res.manifest
            print(
                f"wrote {res.n_rewritten}/{m.n_shards} shards "
                f"({res.n_deleted} deleted), {m.n_rows} rows, "
                f"{m.total_bytes} bytes -> {args.dest}"
            )
            return 0
        df = spark.read.parquet(args.src).withColumn(
            "_shard_key",
            md5_long(F.concat(F.lit("shard|"), F.col(args.key).cast("string"))),
        )
        m = write_training_shards(
            df, args.dest, "_shard_key", args.shards,
            args.max_rows_per_file, fmt=args.shard_format,
        )
        print(
            f"wrote {m.n_shards} shards, {m.n_rows} rows, "
            f"{m.total_bytes} bytes -> {args.dest}"
        )
        return 0
    if args.cmd == "maintain":
        from cardano_spark.sinks.merge import ParquetMergeSink

        if not (args.compact or args.rebucket is not None):
            build_parser().error(
                "maintain needs --compact and/or --rebucket N"
            )
        # partition discovery surfaces the sink's internal _bucket
        # directory key as an int column; strip it so the declared sink
        # schema holds only table data (ParquetMergeSink rejects it).
        from pyspark.sql import types as T

        discovered = spark.read.parquet(args.path).schema
        table_schema = T.StructType(
            [f for f in discovered.fields if f.name != "_bucket"]
        )
        sink = ParquetMergeSink(
            spark, args.path, table_schema, args.keys.split(",")
        )
        if args.rebucket is not None:
            old_n = sink.n_buckets
            sink.rebucket(args.rebucket)
            print(f"rebucketed {args.path}: {old_n} -> {sink.n_buckets}")
        if args.compact:
            done = sink.compact(
                max_files_per_bucket=args.max_files_per_bucket,
                target_file_bytes=args.target_file_bytes,
            )
            print(
                f"compacted {len(done)} bucket(s) "
                f"{sorted(done)} in {args.path}"
            )
        return 0
    if args.cmd == "build-corpus":
        from cardano_spark.pipelines.corpus import build_corpus

        # incremental-mode flag validation BEFORE any data is read:
        # a bad flag combination should fail on arguments, not paths
        if args.incremental:
            rejected = [
                name
                for name, val in (
                    ("--target", args.target),
                    ("--select-top", args.select_top),
                    ("--token-budget-points", args.token_budget_points),
                    ("--split-mode", args.split_mode),
                    ("--shuffle-order", args.shuffle_order or None),
                    ("--pack-budget", args.pack_budget),
                    ("--emit-attributes", args.emit_attributes or None),
                )
                if val is not None
            ]
            if rejected:
                build_parser().error(
                    "corpus-global stages are not incremental: "
                    + ", ".join(rejected)
                )
            if args.neardup_rule != "cluster_longest":
                build_parser().error(
                    "--incremental always uses keep_first_pairwise "
                    "(the only rule an arrival batch can reproduce "
                    "exactly); do not pass --neardup-rule with it"
                )
        elif args.retract_benchmark is not None:
            build_parser().error(
                "--retract-benchmark requires --incremental (batch "
                "mode re-gates everything anyway — pass the set via "
                "--benchmark)"
            )
        if args.semantic_refresh != "off" and not args.incremental:
            build_parser().error(
                "--semantic-refresh requires --incremental (batch mode "
                "has no persisted model to refresh)"
            )
        if args.semantic_occupancy_cap is not None and args.incremental:
            build_parser().error(
                "--semantic-occupancy-cap is batch-only (incremental "
                "serving uses the frozen flat model)"
            )
        docs = spark.read.parquet(args.src)
        bench = (
            spark.read.parquet(args.benchmark) if args.benchmark else None
        )
        target = spark.read.parquet(args.target) if args.target else None
        emb = (
            spark.read.parquet(args.embeddings)
            if args.embeddings
            else None
        )
        if args.incremental:
            if args.export_format != "parquet":
                print(
                    "error: --export-format jsonl is batch-mode only",
                    file=sys.stderr,
                )
                return 2
            from cardano_spark.pipelines.corpus import (
                build_corpus_incremental,
            )

            inc = build_corpus_incremental(
                spark,
                docs,
                args.dest,
                benchmark=bench,
                neardup_threshold=args.neardup_threshold,
                contamination_max=args.contamination_max,
                min_quality=args.min_quality,
                min_tokens=args.min_tokens,
                n_shards=args.shards,
                normalize=args.normalize,
                quality_rules=args.quality_rules,
                decontam_mode=args.decontam_mode,
                paragraph_dedup=args.paragraph_dedup,
                retract_benchmark=(
                    spark.read.parquet(args.retract_benchmark)
                    if args.retract_benchmark
                    else None
                ),
                embeddings=emb,
                semantic_threshold=args.semantic_threshold,
                semantic_refresh=args.semantic_refresh,
            )
            rewrote = (
                f"{inc.export.n_rewritten} shard(s) rewritten"
                if inc.export is not None
                else "no-op (nothing past the watermark)"
            )
            para = (
                f"{inc.n_after_paragraph} after paragraph dedup -> "
                if inc.n_after_paragraph >= 0
                else ""
            )
            retr = (
                f" {inc.n_retracted} retracted;"
                if inc.n_retracted >= 0
                else ""
            )
            sem = (
                f"{inc.n_after_semantic} after semantic dedup "
                f"(model v{inc.semantic_model_version}"
                + (
                    ", refresh advised"
                    if inc.semantic_refresh_advised == 1
                    else ""
                )
                + ") -> "
                if inc.n_after_semantic >= 0
                else ""
            )
            print(
                f"incremental corpus build: {inc.n_arrived} arrived -> "
                f"{para}"
                f"{inc.n_after_exact} after exact dedup -> "
                f"{inc.n_after_neardup} after near-dup -> "
                f"{sem}"
                f"{inc.n_after_decontam} after decontamination -> "
                f"{inc.n_after_quality} kept;{retr} corpus now "
                f"{inc.n_survivors_total} docs; {rewrote}; "
                f"watermark={inc.watermark} -> {args.dest}"
            )
            return 0
        audit = build_corpus(
            spark,
            docs,
            args.dest,
            benchmark=bench,
            neardup_threshold=args.neardup_threshold,
            contamination_max=args.contamination_max,
            min_quality=args.min_quality,
            min_tokens=args.min_tokens,
            n_shards=args.shards,
            target=target,
            select_top=args.select_top,
            token_budget_points=args.token_budget_points,
            split_mode=args.split_mode,
            shuffle_order=args.shuffle_order,
            normalize=args.normalize,
            pack_budget=args.pack_budget,
            quality_rules=args.quality_rules,
            emit_attributes=args.emit_attributes,
            neardup_rule=args.neardup_rule,
            decontam_mode=args.decontam_mode,
            paragraph_dedup=args.paragraph_dedup,
            export_format=args.export_format,
            embeddings=emb,
            semantic_threshold=args.semantic_threshold,
            semantic_occupancy_cap=args.semantic_occupancy_cap,
        )
        splits = (
            "; splits " + ", ".join(
                f"{s}={audit.split_counts[s]}" for s in ("train", "val", "test")
            )
            if audit.split_counts is not None
            else ""
        )
        para = (
            f"{audit.n_after_paragraph} after paragraph dedup -> "
            if audit.n_after_paragraph >= 0
            else ""
        )
        sem = (
            f"{audit.n_after_semantic} after semantic dedup -> "
            if audit.n_after_semantic >= 0
            else ""
        )
        print(
            f"corpus build: {audit.n_input} in -> {para}"
            f"{audit.n_after_exact} "
            f"after exact dedup -> {audit.n_after_neardup} after near-dup "
            f"-> {sem}"
            f"{audit.n_after_decontam} after decontamination -> "
            f"{audit.n_after_quality} after quality -> "
            f"{audit.n_after_select} after selection -> "
            f"{audit.n_after_budget} kept; {audit.manifest.n_shards} "
            f"shards, {audit.manifest.n_rows} rows -> {args.dest}{splits}"
        )
        return 0
    if args.cmd == "scrape-companies":
        from cardano_spark.sources.html_fetch import (
            scrape_company_links,
            selenium_renderer,
        )

        urls = (
            spark.read.option("header", "true").csv(args.urls_csv)
            .select(args.url_col)
        )
        out = scrape_company_links(
            urls,
            args.url_col,
            render or selenium_renderer(wait_css=args.wait_css),
            requests_per_second=args.rps,
            num_partitions=args.partitions,
        )
        out.write.mode("overwrite").option("header", "true").csv(args.dest)
        print(f"scraped company links -> {args.dest}")
        return 0
    if not args.root:
        build_parser().error("--root is required for pipeline commands")
    lake = cardano.CardanoLake(spark, args.root)
    t = transport or default_transport

    if args.cmd == "blocks":
        window = cardano.blocks_to_raw(lake, t, base_url=args.base_url)
        cardano.raw_blocks_to_table(lake)
    elif args.cmd == "block-tx":
        window = cardano.block_transactions_to_raw(lake, t, base_url=args.base_url)
        cardano.raw_block_transactions_to_table(lake)
    else:
        cardano.full_tx_pipeline(
            lake,
            t,
            args.start_block,
            args.end_block,
            window=args.window,
            base_url=args.base_url,
        )
        window = (args.start_block, args.end_block)
    if window is None:
        print("nothing to do (dependency gate: child caught up with parent)")
    else:
        print(f"processed blocks [{window[0]}, {window[1]}]")
        if lake.last_load_counts:
            for table, n in sorted(lake.last_load_counts.items()):
                print(f"  {table}: {n} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
