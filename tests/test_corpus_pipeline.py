"""End-to-end corpus build (pipelines/corpus.py): planted-input
semantics per stage, determinism of the whole pipeline, and the CLI
seam. The individual operators are oracle-verified in the registry;
these tests pin the COMPOSITION (stage order, gate application,
audit accounting)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from cardano_spark.pipelines.corpus import build_corpus
from tests.conftest import SF_SMALL

GOOD = (
    "the quick brown fox jumps over the lazy dog and runs on through "
    "the quiet field while the sun sets over the hills in the west"
)


def _docs(spark):
    rows = [
        (1, GOOD, "en", "web", len(GOOD)),
        (2, GOOD, "en", "web", len(GOOD)),          # exact dup of 1
        (3, GOOD + " extra", "en", "web", len(GOOD) + 6),  # near dup, LONGER
        (4, "zz qq xx ww vv uu tt ss rr pp", "en", "web", 29),  # no stopwords
        (5, "the secret benchmark answer is too close for comfort "
            "and the rest of this text is long enough to pass the "
            "quality gate easily with many common words", "en", "eval-leak", 150),
        (6, None, "en", "web", 0),                   # NULL text
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_build_corpus_stages_and_audit(spark, tmp_path):
    bench = spark.createDataFrame(
        [("the secret benchmark answer is too close for comfort",)],
        "text string",
    )
    audit = build_corpus(
        spark,
        _docs(spark),
        str(tmp_path / "out"),
        benchmark=bench,
        contamination_max=0.2,
        min_quality=0.3,
        min_tokens=3,
        n_shards=2,
    )
    assert audit.n_input == 6
    assert audit.n_after_exact == 5          # doc 2 collapses into 1
    assert audit.n_after_neardup == 4        # docs {1,3}: keep 3 (longer)
    assert audit.n_after_decontam == 3       # doc 5 overlaps the benchmark
    assert audit.n_after_quality == 1        # doc 4 fails quality, doc 6 NULL
    assert audit.manifest.n_rows == 1
    kept = spark.read.parquet(str(tmp_path / "out")).select("doc_id").collect()
    assert {r.doc_id for r in kept} == {3}
    # audit counts are monotone non-increasing by construction
    seq = [
        audit.n_input,
        audit.n_after_exact,
        audit.n_after_neardup,
        audit.n_after_decontam,
        audit.n_after_quality,
    ]
    assert seq == sorted(seq, reverse=True)


def test_build_corpus_no_benchmark_stage_is_noop(spark, tmp_path):
    audit = build_corpus(
        spark, _docs(spark), str(tmp_path / "out"), benchmark=None, n_shards=2
    )
    assert audit.n_after_decontam == audit.n_after_neardup


def test_build_corpus_deterministic(spark, tmp_path):
    """Two runs over the same input must produce identical manifests
    (shard membership is a pure function of content)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    a1 = build_corpus(spark, docs, str(tmp_path / "a"), n_shards=3)
    a2 = build_corpus(spark, docs, str(tmp_path / "b"), n_shards=3)
    assert a1.n_after_quality == a2.n_after_quality
    assert a1.manifest.n_rows == a2.manifest.n_rows
    assert [s["rows"] for s in a1.manifest.shards] == [
        s["rows"] for s in a2.manifest.shards
    ]


def test_cli_build_corpus(spark, tmp_path, capsys):
    from cardano_spark.__main__ import main

    dest = str(tmp_path / "out")
    rc = main(
        [
            "build-corpus",
            "--src", f"{SF_SMALL}/documents.parquet",
            "--dest", dest,
            "--shards", "2",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "corpus build:" in out and "kept" in out
    with open(f"{dest}/_manifest.json", encoding="utf-8") as f:
        m = json.load(f)
    assert m["n_rows"] > 0


def test_quality_gate_uses_shared_formula(spark):
    """The pipeline's gate and q30 must agree — one formula
    definition (functions/text.py::quality_score)."""
    from cardano_spark.functions import text as TX
    from cardano_spark.plans.trainingdata import q30_quality_score

    q30 = {
        r.doc_id: r.quality
        for r in q30_quality_score(spark, SF_SMALL).collect()
    }
    direct = {
        r.doc_id: r.q
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", TX.quality_score(F.col("text")).alias("q"))
        .collect()
    }
    assert q30 == direct


def test_build_corpus_selection_and_budget_stages(spark, tmp_path):
    """The optional DSIR-selection and PPS-budget stages: planted
    target-like documents survive selection, off-target ones don't,
    the budget bounds the output, and defaults keep both as no-ops."""
    import pytest

    target_text = "alpha beta gamma delta epsilon zeta eta theta"
    off_text = "one two three four five six seven eight nine ten"
    # each doc mixes its family's shared vocabulary with enough
    # PRIVATE filler that pairwise Jaccard stays far below the
    # near-dup gate (the selection stage, not dedup, must decide)
    filler = lambda i: " ".join(f"u{i}{c}" for c in "abcdefghij")  # noqa: E731
    rows = (
        [(i, f"{target_text} {filler(i)}", "en", "web", 150) for i in range(3)]
        + [
            (10 + i, f"{off_text} {filler(10 + i)}", "en", "web", 150)
            for i in range(3)
        ]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    target = spark.createDataFrame(
        [(target_text,)] * 3, "text string"
    )

    audit = build_corpus(
        spark,
        docs,
        str(tmp_path / "sel"),
        n_shards=2,
        target=target,
        select_top=3,
    )
    assert audit.n_after_quality == 6
    assert audit.n_after_select == 3
    assert audit.n_after_budget == 3  # budget off -> pass-through
    kept = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "sel")).select("doc_id").collect()
    }
    assert kept == {0, 1, 2}  # the target-like documents

    audit2 = build_corpus(
        spark,
        docs,
        str(tmp_path / "bud"),
        n_shards=2,
        token_budget_points=2,
    )
    assert audit2.n_after_select == audit2.n_after_quality  # selection off
    assert 1 <= audit2.n_after_budget <= 2  # k points pick <= k docs
    assert audit2.manifest.n_rows == audit2.n_after_budget

    with pytest.raises(ValueError):
        build_corpus(
            spark, docs, str(tmp_path / "err"), target=target  # no select_top
        )


def test_build_corpus_selection_deterministic(spark, tmp_path):
    """Selection + budget keep the two-run determinism pin (the
    reason the stage uses ratio_fp weights, not float log sums)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    target = docs.filter(F.col("doc_id") < 10).select("text")
    kw = dict(n_shards=3, target=target, select_top=25, token_budget_points=10)
    a1 = build_corpus(spark, docs, str(tmp_path / "a"), **kw)
    a2 = build_corpus(spark, docs.repartition(7), str(tmp_path / "b"), **kw)
    assert a1.n_after_select == a2.n_after_select == 25
    assert a1.n_after_budget == a2.n_after_budget
    k1 = {r.doc_id for r in spark.read.parquet(str(tmp_path / "a")).select("doc_id").collect()}
    k2 = {r.doc_id for r in spark.read.parquet(str(tmp_path / "b")).select("doc_id").collect()}
    assert k1 == k2  # identical survivor SET under different partitioning
    assert [s["rows"] for s in a1.manifest.shards] == [
        s["rows"] for s in a2.manifest.shards
    ]


def test_build_corpus_cluster_safe_split_zero_leak(spark, tmp_path):
    """split_mode='cluster_safe' + shuffle_order end to end on real
    sf0.001 documents: the q132 audit re-run over the EXPORTED splits
    finds ZERO near-dup pairs straddling a boundary (q137's
    by-construction guarantee carried through the deployable
    pipeline), every kept doc lands in exactly one split, and the
    shuffle-order shards reconstruct the exact global epoch-0
    permutation."""
    from cardano_spark.functions import text as TX
    from cardano_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    dest = str(tmp_path / "out")
    audit = build_corpus(
        spark,
        docs,
        dest,
        n_shards=2,
        # keep near-dup families IN the export so the split rule has
        # real work: detect at 0.95, split-cluster at the same 0.95
        neardup_threshold=0.95,
        split_mode="cluster_safe",
        shuffle_order=True,
    )
    assert audit.split_counts is not None
    assert sum(audit.split_counts.values()) == audit.n_after_budget
    assert set(audit.split_manifests) == {"train", "val", "test"}
    assert audit.manifest.n_rows == audit.n_after_budget

    exported = spark.read.parquet(f"{dest}/*")
    labeled = exported.select("doc_id", "split")
    assert labeled.count() == labeled.select("doc_id").distinct().count()

    # zero-leak: q132's measurement against the exported assignment
    pairs = DD.minhash_lsh_pairs(
        exported,
        "doc_id",
        TX.distinct_tokens(F.coalesce(F.col("text"), F.lit(""))),
        threshold=0.95,
    )
    leaks = (
        pairs.join(
            labeled.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
            ),
            "id_a",
        )
        .join(
            labeled.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
            ),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )
    assert leaks.count() == 0

    # shuffle order: per split, _order values are exactly 0..n-1 and
    # shard files cover contiguous, internally-sorted ranges
    for s, m in audit.split_manifests.items():
        part = spark.read.parquet(f"{dest}/{s}")
        orders = sorted(r["_order"] for r in part.select("_order").collect())
        assert orders == list(range(len(orders)))


def test_build_corpus_cluster_safe_deterministic_under_repartition(
    spark, tmp_path
):
    """The split assignment and shard membership are pure functions of
    corpus content: re-running with a differently-partitioned input
    reproduces identical per-split doc sets and manifests."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    a1 = build_corpus(
        spark, docs, str(tmp_path / "a"), n_shards=2,
        neardup_threshold=0.95, split_mode="cluster_safe",
        shuffle_order=True,
    )
    a2 = build_corpus(
        spark, docs.repartition(7), str(tmp_path / "b"), n_shards=2,
        neardup_threshold=0.95, split_mode="cluster_safe",
        shuffle_order=True,
    )
    assert a1.split_counts == a2.split_counts
    for s in ("train", "val", "test"):
        d1 = spark.read.parquet(f"{tmp_path}/a/{s}")
        d2 = spark.read.parquet(f"{tmp_path}/b/{s}")
        assert sorted(
            (r.doc_id, r._order) for r in d1.select("doc_id", "_order").collect()
        ) == sorted(
            (r.doc_id, r._order) for r in d2.select("doc_id", "_order").collect()
        )
        assert [sh["rows"] for sh in a1.split_manifests[s].shards] == [
            sh["rows"] for sh in a2.split_manifests[s].shards
        ]


def test_cli_build_corpus_split_flags(spark, tmp_path, capsys):
    from cardano_spark.__main__ import main

    dest = str(tmp_path / "out")
    rc = main(
        [
            "build-corpus",
            "--src", f"{SF_SMALL}/documents.parquet",
            "--dest", dest,
            "--shards", "2",
            "--split-mode", "cluster_safe",
            "--shuffle-order",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "splits train=" in out
    with open(f"{dest}/train/_manifest.json", encoding="utf-8") as f:
        m = json.load(f)
    assert m["n_rows"] > 0


def test_build_corpus_normalize_collapses_variants(spark, tmp_path):
    """normalize=True runs the q157 cleanup before every gate:
    typography-only renditions collapse in the exact-dedup stage
    (without it they both survive), and exported text is the
    normalized form."""
    from cardano_spark.operators import curation as CU

    base = ("the quick brown fox jumps over the lazy dog and runs on "
            "through the quiet field while the sun sets over the hills")
    curly = base.replace("the quick", "the\u00a0 quick").replace(
        "dog", "dog\u200b"
    )
    docs = spark.createDataFrame(
        [
            (1, base, "en", "web", len(base)),
            (2, curly, "en", "web", len(curly)),
            (3, "another long and different document with plenty of the "
                "usual common words to pass the quality gate", "en", "web", 100),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    plain = build_corpus(spark, docs, str(tmp_path / "a"), n_shards=1)
    assert plain.n_after_exact == 3  # byte-level: variants both survive
    norm = build_corpus(
        spark, docs, str(tmp_path / "b"), n_shards=1, normalize=True
    )
    assert norm.n_after_exact == 2   # variants collapsed, keep doc 1
    exported = {
        r.doc_id: r.text
        for r in spark.read.parquet(str(tmp_path / "b")).collect()
    }
    assert 2 not in exported
    assert exported[1] == base  # normalized form (base is already clean)


def test_build_corpus_pack_budget_annotations(spark, tmp_path):
    """pack_budget annotates the export with q60's concat-then-chunk
    columns over the EXPORT ORDER: token-stream positions reconstruct
    exactly (seq_id*budget + seq_offset == exclusive prefix sum of
    token counts in order), every budget boundary is respected, and
    with shuffle_order the stream follows the epoch-0 permutation."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    budget = 256
    build_corpus(
        spark, docs, str(tmp_path / "a"), n_shards=2,
        shuffle_order=True, pack_budget=budget,
    )
    out = spark.read.parquet(str(tmp_path / "a")).select(
        "_order", "text", "seq_id", "seq_offset"
    ).orderBy("_order").collect()
    pos = 0
    for r in out:
        assert r.seq_id * budget + r.seq_offset == pos, r._order
        assert 0 <= r.seq_offset < budget
        pos += len((r.text or "").split(" "))

    # plain export packs in doc_id order
    build_corpus(
        spark, docs, str(tmp_path / "b"), n_shards=2, pack_budget=budget
    )
    out2 = spark.read.parquet(str(tmp_path / "b")).select(
        "doc_id", "text", "seq_id", "seq_offset"
    ).orderBy("doc_id").collect()
    pos = 0
    for r in out2:
        assert r.seq_id * budget + r.seq_offset == pos, r.doc_id
        pos += len((r.text or "").split(" "))


def test_build_corpus_gopher_rules_gate(spark, tmp_path):
    """--quality-rules gopher drops exactly the rule-failing docs
    (word-count floor; required-words floor) on top of the base
    quality gate, and the flags compute inline (no extra exchange
    vs the plain run is pinned by the operator's own test; here we
    pin stage accounting + export membership)."""
    passing = " ".join(["the", "be", "to", "of"] + ["word"] * 60)
    rows = [
        (1, passing, "en", "web", len(passing)),
        # fails Gopher rule 1 only (13 words), passes the base gate
        (2, "the be " + "word " * 10, "en", "web", 60),
        # fails Gopher rule 7 only (one required word)
        (3, " ".join(["the"] + ["word"] * 63), "en", "web", 300),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    base = build_corpus(
        spark, docs, str(tmp_path / "a"), n_shards=1, min_tokens=3
    )
    assert base.n_after_quality == 3
    gated = build_corpus(
        spark,
        docs,
        str(tmp_path / "b"),
        n_shards=1,
        min_tokens=3,
        quality_rules="gopher",
    )
    assert gated.n_after_quality == 1
    kept = spark.read.parquet(str(tmp_path / "b")).select("doc_id").collect()
    assert {r.doc_id for r in kept} == {1}
    import pytest

    with pytest.raises(ValueError, match="quality_rules"):
        build_corpus(
            spark, docs, str(tmp_path / "c"), quality_rules="fineweb"
        )


def test_build_corpus_emit_attributes_ledger(spark, tmp_path):
    """--emit-attributes writes one ledger row per INPUT doc whose
    survived_<stage> flags replay the audit exactly: monotone along
    the stage chain, stage sums equal the audit counts, and dropped
    docs carry the reason (first zero flag) the audit implies."""
    bench = spark.createDataFrame(
        [("the secret benchmark answer is too close for comfort",)],
        "text string",
    )
    audit = build_corpus(
        spark,
        _docs(spark),
        str(tmp_path / "out"),
        benchmark=bench,
        contamination_max=0.2,
        min_quality=0.3,
        min_tokens=3,
        n_shards=2,
        emit_attributes=True,
    )
    assert audit.attributes_path == str(tmp_path / "out") + "/_attributes"
    led = {
        r.doc_id: r
        for r in spark.read.parquet(audit.attributes_path).collect()
    }
    assert set(led) == {1, 2, 3, 4, 5, 6}          # every INPUT doc
    stages = ["exact", "neardup", "decontam", "quality"]
    for r in led.values():
        flags = [getattr(r, f"survived_{s}") for s in stages]
        assert flags == sorted(flags, reverse=True), r.doc_id  # monotone
    sums = {
        s: sum(getattr(r, f"survived_{s}") for r in led.values())
        for s in stages
    }
    assert sums["exact"] == audit.n_after_exact
    assert sums["neardup"] == audit.n_after_neardup
    assert sums["decontam"] == audit.n_after_decontam
    assert sums["quality"] == audit.n_after_quality
    # doc 2 = exact dup, doc 5 = contaminated, doc 4/6 = quality
    assert led[2].survived_exact == 0
    assert led[5].survived_decontam == 0 and led[5].survived_neardup == 1
    assert led[4].survived_quality == 0 and led[4].survived_decontam == 1
    assert led[6].quality_fp is None                # NULL text -> no score
    assert led[3].survived_quality == 1


def test_build_corpus_attributes_ledger_with_paragraph_dedup(
    spark, tmp_path
):
    """The ledger's per-INPUT-document contract holds when the
    paragraph stage is on (r8 ADVICE, corpus.py): documents whose
    every paragraph was claimed elsewhere still get a ledger row
    (survived_paragraph=0, all later flags 0), and the tagger
    columns (n_tokens) describe the INPUT text, not the
    paragraph-deduped rewrite."""
    long = " ".join(f"w{i % 17}" for i in range(120))
    rows = [
        (1, long, "en", "web", len(long)),
        (2, long, "en", "web", len(long)),    # all paragraphs claimed by 1
        (3, " ".join(f"z{i % 13}" for i in range(90)), "en", "web", 90),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    audit = build_corpus(
        spark,
        docs,
        str(tmp_path / "out"),
        n_shards=1,
        min_tokens=1,
        paragraph_dedup=True,
        emit_attributes=True,
    )
    assert audit.n_after_paragraph == 2           # doc 2 fully claimed
    led = {
        r.doc_id: r
        for r in spark.read.parquet(audit.attributes_path).collect()
    }
    assert set(led) == {1, 2, 3}                  # one row per INPUT doc
    assert led[2].survived_paragraph == 0
    assert led[2].survived_exact == 0             # monotone after drop
    assert led[1].survived_paragraph == 1
    assert led[3].survived_paragraph == 1
    # tagger columns are over the INPUT text: docs 1 and 2 are
    # byte-identical inputs, so their n_tokens must be equal even
    # though doc 2's rewrite is empty, and doc 1 keeps only the
    # first occurrence of each repeated paragraph.
    assert led[2].n_tokens == led[1].n_tokens == 120
    assert led[2].quality_fp == led[1].quality_fp


@pytest.mark.parametrize(
    "incremental, bad",
    [
        (False, dict(decontam_mode="strip")),
        (False, dict(quality_rules="c4")),
        (False, dict(select_top=3)),
        (False, dict(split_mode="random")),
        (False, dict(neardup_rule="longest")),
        (False, dict(export_format="csv")),
        (True, dict(decontam_mode="strip")),
        (True, dict(quality_rules="c4")),
        (True, dict(semantic_refresh="always")),
    ],
)
def test_bad_arguments_raise_before_any_spark_job(
    spark, tmp_path, count_jobs, incremental, bad
):
    """Every argument is checked at the top of each builder: a bad
    value raises before any Spark job runs or any state is written
    (a mistyped decontam_mode used to raise only after the dedup
    stages, and with embeddings after the semantic model froze)."""
    from cardano_spark.pipelines.corpus import build_corpus_incremental

    docs = _docs(spark)
    dest = tmp_path / "out"
    if incremental:
        emb = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(1, 7)],
            "doc_id long, embedding array<float>",
        )
        run = lambda: build_corpus_incremental(  # noqa: E731
            spark, docs, str(dest), embeddings=emb, **bad
        )
    else:
        run = lambda: build_corpus(spark, docs, str(dest), **bad)  # noqa: E731

    def call():
        with pytest.raises(ValueError, match="unknown|together"):
            run()

    _, jobs = count_jobs(call)
    assert jobs == 0
    assert not dest.exists()


@pytest.mark.parametrize("quality_rules", [None, "gopher"])
def test_build_corpus_incremental_converges_to_batch(
    spark, tmp_path, quality_rules
):
    """The watermark-gated incremental build's convergence contract
    (the q136 discipline applied end-to-end): for ANY arrival split
    (1, 2, 3 id-ranged batches) over the same corpus, the cumulative
    survivor set AND the shard read-back equal the BATCH
    build_corpus(neardup_rule='keep_first_pairwise') over the union
    — with a benchmark gate and quality floor active (and the Gopher
    rule stack, in the second case), on a real document slice with
    exact and near duplicates."""
    from cardano_spark.catalog import table
    from cardano_spark.pipelines.corpus import build_corpus_incremental

    docs = table(spark, SF_SMALL, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    if quality_rules == "gopher":
        # the fixture texts carry none of the Gopher required words:
        # give every other document two, so the rule stack keeps some
        # documents and drops others
        docs = docs.withColumn(
            "text",
            F.when(
                F.col("doc_id") % 2 == 0, F.concat("text", F.lit(" the and"))
            ).otherwise(F.col("text")),
        )
    bench = (
        table(spark, SF_SMALL, "documents")
        .filter(F.col("doc_id") < 15)
        .select("text")
        .localCheckpoint()
    )
    kw = dict(
        benchmark=bench, neardup_threshold=0.8, contamination_max=0.2,
        min_quality=0.3, min_tokens=3, n_shards=4,
        quality_rules=quality_rules,
    )

    batch_dest = str(tmp_path / "batch")
    batch_audit = build_corpus(
        spark, docs, batch_dest, neardup_rule="keep_first_pairwise", **kw
    )
    batch_ids = {
        r.doc_id
        for r in spark.read.parquet(batch_dest).select("doc_id").collect()
    }
    assert batch_ids, "fixture produced no survivors"
    # the gates are non-trivial on this slice
    assert batch_audit.n_after_quality < batch_audit.n_input
    if quality_rules == "gopher":
        assert batch_audit.n_after_quality < batch_audit.n_after_decontam

    shard_maps = []
    for n_batches, cuts in ((1, []), (2, [250]), (3, [160, 330])):
        dest = str(tmp_path / f"inc{n_batches}")
        bounds = [float("-inf"), *cuts, float("inf")]
        last = None
        for i in range(n_batches):
            arrival = docs.filter(
                (F.col("doc_id") >= bounds[i])
                & (F.col("doc_id") < bounds[i + 1])
            )
            last = build_corpus_incremental(spark, arrival, dest, **kw)
        assert last is not None
        assert last.n_survivors_total == len(batch_ids)
        inc_ids = {
            r.doc_id
            for r in spark.read.parquet(dest).select("doc_id").collect()
        }
        assert inc_ids == batch_ids, f"split={n_batches}"
        # shard membership is a content hash: identical for EVERY
        # arrival split (the batch exporter range-shards, so shard
        # layout is compared across incremental runs, survivor SET
        # against the batch build)
        shard_maps.append(
            {
                (r.doc_id, r._shard)
                for r in spark.read.parquet(dest)
                .select("doc_id", "_shard")
                .collect()
            }
        )
    assert shard_maps[0] == shard_maps[1] == shard_maps[2]


def test_build_corpus_incremental_retraction_e2e(spark, tmp_path):
    """r8 verdict task 4 — the delta exporter's delete path driven
    end-to-end: a benchmark that arrives AFTER documents were
    exported retracts them. One post-baseline batch both INSERTS its
    survivors and DELETES the newly-contaminated old exports through
    a single write_training_shards_delta call (digest-fold subtract
    path on real data); the result equals (a) the batch build over
    the union with benchmark=retract, and (b) manifest-for-manifest,
    a full re-export of the retracted corpus."""
    from cardano_spark.catalog import table
    from cardano_spark.functions.hashing import md5_long
    from cardano_spark.pipelines.corpus import build_corpus_incremental
    from cardano_spark.sinks.shards import (
        read_manifest,
        write_training_shards_incremental,
    )

    docs = table(spark, SF_SMALL, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    kw = dict(
        neardup_threshold=0.8, contamination_max=0.2,
        min_quality=0.0, min_tokens=1, n_shards=4,
    )
    dest = str(tmp_path / "inc")
    b1 = docs.filter(F.col("doc_id") < 250)
    a1 = build_corpus_incremental(spark, b1, dest, **kw)
    assert a1.n_retracted == -1  # no retraction requested
    surv1 = spark.read.parquet(dest).select("doc_id", "text")
    # retract benchmark = verbatim texts of 3 exported survivors
    # (contamination 1.0 > 0.2 — they MUST come out)
    picked = surv1.orderBy("doc_id").limit(3).localCheckpoint()
    retract = picked.select("text").localCheckpoint()
    picked_ids = {r.doc_id for r in picked.select("doc_id").collect()}

    a2 = build_corpus_incremental(
        spark, docs.filter(F.col("doc_id") >= 250), dest,
        retract_benchmark=retract, **kw
    )
    assert a2.n_retracted >= 3          # the picked docs, at least
    assert a2.n_after_quality > 0       # inserts in the same call
    inc_ids = {
        r.doc_id
        for r in spark.read.parquet(dest).select("doc_id").collect()
    }
    assert picked_ids.isdisjoint(inc_ids)  # retracted rows are gone

    # (a) equality with the batch twin over the union corpus,
    # benchmark = the late-arriving set
    batch_dest = str(tmp_path / "batch")
    build_corpus(
        spark, docs, batch_dest, benchmark=retract,
        neardup_rule="keep_first_pairwise", **kw
    )
    batch_ids = {
        r.doc_id
        for r in spark.read.parquet(batch_dest).select("doc_id").collect()
    }
    assert inc_ids == batch_ids
    assert a2.n_survivors_total == len(batch_ids)

    # (b) manifest equality with a full re-export of the retracted
    # corpus (same key derivation and column order as the pipeline)
    full_dest = str(tmp_path / "full")
    retracted_corpus = docs.join(
        spark.createDataFrame(
            [(i,) for i in sorted(inc_ids)], "doc_id long"
        ),
        "doc_id",
        "left_semi",
    ).withColumn(
        "_shard_key",
        md5_long(F.concat(F.lit("corpus|"), F.col("doc_id").cast("string"))),
    )
    write_training_shards_incremental(
        retracted_corpus, full_dest, "_shard_key", 4
    )
    md, mf = read_manifest(dest), read_manifest(full_dest)
    assert md.n_rows == mf.n_rows == len(inc_ids)
    assert {s["shard_id"]: s["digest"] for s in md.shards} == {
        s["shard_id"]: s["digest"] for s in mf.shards
    }

    # retraction-only pass: same benchmark again — nothing new to
    # retract (idempotent), nothing arrives, watermark unchanged
    a3 = build_corpus_incremental(
        spark, docs.filter(F.lit(False)), dest,
        retract_benchmark=retract, **kw
    )
    assert a3.n_arrived == 0 and a3.n_retracted == 0
    assert a3.watermark is None
    assert a3.n_survivors_total == len(batch_ids)


def test_build_corpus_incremental_retraction_only_pass(spark, tmp_path):
    """A benchmark arriving with NO new documents still retracts:
    the zero-arrival branch routes deletes through the delta
    exporter with empty upserts."""
    from cardano_spark.pipelines.corpus import build_corpus_incremental

    rows = [
        (1, "the first document body with many of the usual common "
            "english words in it", "en", "web", 80),
        (2, "a completely different second document also long enough "
            "with the common words", "en", "web", 82),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    dest = str(tmp_path / "inc")
    a1 = build_corpus_incremental(spark, docs, dest, n_shards=2)
    assert a1.n_survivors_total == 2
    retract = spark.createDataFrame([(rows[0][1],)], "text string")
    a2 = build_corpus_incremental(
        spark, docs.filter(F.lit(False)), dest,
        retract_benchmark=retract, contamination_max=0.2, n_shards=2,
    )
    assert a2.n_arrived == 0 and a2.n_retracted == 1
    assert a2.export is not None and a2.export.n_deleted >= 0
    assert {
        r.doc_id for r in spark.read.parquet(dest).collect()
    } == {2}
    assert a2.n_survivors_total == 1


def test_build_corpus_incremental_exports_through_delta_only(
    spark, tmp_path, monkeypatch
):
    """r8 verdict task 7: the O(corpus) full-scan exporter
    (write_training_shards_incremental) never runs in the arrival
    loop; every batch, the first included, makes one call of the
    |new|-bounded delta exporter. Counted by monkeypatching both
    seams. The first batch's delta into an empty path publishes the
    manifest the full exporter writes over the same survivors."""
    import cardano_spark.pipelines.corpus as corpus_mod
    from cardano_spark.functions.hashing import md5_long
    from cardano_spark.pipelines.corpus import build_corpus_incremental
    from cardano_spark.sinks.shards import (
        read_manifest,
        write_training_shards_incremental,
    )

    calls = {"full": 0, "delta": 0}
    real_delta = corpus_mod.write_training_shards_delta

    def count_full(*a, **kw):
        calls["full"] += 1
        return write_training_shards_incremental(*a, **kw)

    def count_delta(*a, **kw):
        calls["delta"] += 1
        return real_delta(*a, **kw)

    monkeypatch.setattr(
        corpus_mod, "write_training_shards_incremental", count_full
    )
    monkeypatch.setattr(
        corpus_mod, "write_training_shards_delta", count_delta
    )
    mk = lambda i: (  # noqa: E731
        i,
        f"document number {i} with enough of the usual common words "
        f"to pass and the unique token u{i}",
        "en", "web", 90,
    )
    schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    dest = str(tmp_path / "inc")
    first = spark.createDataFrame([mk(1), mk(2)], schema)
    a1 = build_corpus_incremental(spark, first, dest, n_shards=2)
    assert calls == {"full": 0, "delta": 1}          # first batch: delta
    assert a1.n_survivors_total == 2

    full_dest = str(tmp_path / "full")
    write_training_shards_incremental(
        first.withColumn(
            "_shard_key",
            md5_long(F.concat(F.lit("corpus|"), F.col("doc_id").cast("string"))),
        ),
        full_dest,
        "_shard_key",
        2,
    )
    md, mf = read_manifest(dest), read_manifest(full_dest)
    assert md.n_rows == mf.n_rows == 2
    assert [(s["shard_id"], s["rows"], s["digest"]) for s in md.shards] == [
        (s["shard_id"], s["rows"], s["digest"]) for s in mf.shards
    ]

    for batch in ([mk(3)], [mk(4), mk(5)]):
        build_corpus_incremental(
            spark, spark.createDataFrame(batch, schema), dest, n_shards=2
        )
    assert calls == {"full": 0, "delta": 3}          # one delta per batch


def test_build_corpus_incremental_retraction_cut_mode_e2e(
    spark, tmp_path
):
    """Cut-mode retraction (r9 verdict task 7): a benchmark arriving
    AFTER export re-CUTS previously-exported rows instead of dropping
    them — rewrites (delta upserts) and removals (delta deletes) ride
    one write_training_shards_delta call against the PRE-cut
    originals retained in _state/precut (span excision does not
    compose, so re-cutting cut text would diverge). Convergence: the
    export equals (a) the batch cut-mode build over the union corpus
    with benchmark = retract, row-for-row including texts, and (b)
    manifest-for-manifest, a full re-export of that corpus."""
    from cardano_spark.catalog import table
    from cardano_spark.functions.hashing import md5_long
    from cardano_spark.pipelines.corpus import build_corpus_incremental
    from cardano_spark.sinks.shards import (
        read_manifest,
        write_training_shards_incremental,
    )

    docs = table(spark, SF_SMALL, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    kw = dict(
        neardup_threshold=0.8, contamination_max=0.2,
        min_quality=0.0, min_tokens=1, n_shards=4,
        decontam_mode="cut",
    )
    dest = str(tmp_path / "inc")
    a1 = build_corpus_incremental(
        spark, docs.filter(F.col("doc_id") < 250), dest, **kw
    )
    assert a1.n_retracted == -1
    surv1 = spark.read.parquet(dest).select("doc_id", "text")
    # retraction benchmark: an 8-token span from the MIDDLE of three
    # exported docs — cut mode should excise the span, not drop the doc
    import pyspark.sql.functions as _F

    picked = (
        surv1.filter(_F.size(_F.split("text", " ")) >= 24)
        .orderBy("doc_id").limit(3).localCheckpoint()
    )
    retract = picked.select(
        _F.array_join(
            _F.slice(_F.split("text", " "), 9, 8), " "
        ).alias("text")
    ).localCheckpoint()
    picked_ids = {r.doc_id for r in picked.select("doc_id").collect()}

    a2 = build_corpus_incremental(
        spark, docs.filter(F.col("doc_id") >= 250), dest,
        retract_benchmark=retract, **kw
    )
    assert a2.n_retracted >= 3  # the picked docs were rewritten
    inc = {
        r.doc_id: r.text
        for r in spark.read.parquet(dest).select("doc_id", "text").collect()
    }
    # rewritten, not dropped: the picked docs are still exported but
    # with the contaminated span excised
    old_texts = {r.doc_id: r.text for r in picked.collect()}
    for did in picked_ids:
        assert did in inc
        assert inc[did] != old_texts[did]

    # (a) row-for-row equality (texts included) with the batch
    # cut-mode twin over the union corpus
    batch_dest = str(tmp_path / "batch")
    build_corpus(
        spark, docs, batch_dest, benchmark=retract,
        neardup_rule="keep_first_pairwise", **kw
    )
    batch = {
        r.doc_id: r.text
        for r in spark.read.parquet(batch_dest)
        .select("doc_id", "text").collect()
    }
    assert inc == batch

    # (b) manifest equality with a full re-export of the final corpus
    # (source rows with the cut texts swapped in — the same schema,
    # column order, n_chars recompute and key derivation the pipeline
    # uses)
    full_dest = str(tmp_path / "full")
    cut_texts = spark.createDataFrame(
        [(k, v) for k, v in sorted(inc.items())], "doc_id long, text string"
    )
    cols = docs.columns
    final_corpus = (
        docs.drop("text").join(cut_texts, "doc_id").select(*cols)
    )
    if "n_chars" in cols:
        final_corpus = final_corpus.withColumn(
            "n_chars", F.length("text").cast("long")
        )
    final_corpus = final_corpus.withColumn(
        "_shard_key",
        md5_long(F.concat(F.lit("corpus|"), F.col("doc_id").cast("string"))),
    )
    write_training_shards_incremental(
        final_corpus, full_dest, "_shard_key", 4
    )
    md, mf = read_manifest(dest), read_manifest(full_dest)
    assert md.n_rows == mf.n_rows == len(inc)
    assert {s["shard_id"]: s["digest"] for s in md.shards} == {
        s["shard_id"]: s["digest"] for s in mf.shards
    }

    # retraction-only replay of the same benchmark: fully converged,
    # nothing further rewritten
    a3 = build_corpus_incremental(
        spark, docs.filter(F.lit(False)), dest,
        retract_benchmark=retract, **kw
    )
    assert a3.n_arrived == 0 and a3.n_retracted == 0


def test_build_corpus_incremental_second_batch_pays_new_only(
    spark, tmp_path
):
    """Incrementality is real, not a rebuild in disguise: a second
    arrival batch (a) is watermark-gated (re-presenting already-
    processed ids is a no-op), (b) drops a new exact/near dup of an
    EARLIER batch's doc via the persisted digest/band state, and (c)
    rewrites only the shards its survivors land in."""
    from cardano_spark.pipelines.corpus import build_corpus_incremental

    base = GOOD
    b1 = spark.createDataFrame(
        [
            (10, base, "en", "web", len(base)),
            (11, "a completely different document body with plenty of "
                 "the most common english words in it for the gate",
             "en", "web", 100),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    dest = str(tmp_path / "inc")
    a1 = build_corpus_incremental(
        spark, b1, dest, min_quality=0.3, min_tokens=3, n_shards=4
    )
    assert a1.n_arrived == 2 and a1.n_survivors_total == 2
    assert a1.watermark == 11

    b2 = spark.createDataFrame(
        [
            (10, base, "en", "web", len(base)),      # behind the watermark
            (12, base, "en", "web", len(base)),      # exact dup of doc 10
            (13, base + " extra", "en", "web", len(base) + 6),  # near dup
            (14, "the fresh survivor document is here and it is long "
                 "enough with the usual common words to pass the gate",
             "en", "web", 104),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    a2 = build_corpus_incremental(
        spark, b2, dest, min_quality=0.3, min_tokens=3, n_shards=4
    )
    assert a2.n_arrived == 3            # doc 10 gated by the watermark
    assert a2.n_after_exact == 2        # doc 12 = seen digest of doc 10
    assert a2.n_after_neardup == 1      # doc 13 pairs with seen doc 10
    assert a2.n_after_quality == 1
    assert a2.n_survivors_total == 3
    assert a2.watermark == 14
    assert a2.export is not None
    # only the shard(s) doc 14 lands in rewrote on the second run
    assert 1 <= a2.export.n_rewritten < 4

    # a replayed empty window is a clean no-op
    a3 = build_corpus_incremental(
        spark, b2, dest, min_quality=0.3, min_tokens=3, n_shards=4
    )
    assert a3.n_arrived == 0 and a3.export is None
    assert a3.n_survivors_total == 3


def test_cli_build_corpus_incremental(spark, tmp_path, capsys):
    from cardano_spark.__main__ import main

    dest = str(tmp_path / "out")
    for _ in range(2):  # second invocation: everything behind the watermark
        rc = main(
            [
                "build-corpus",
                "--src", f"{SF_SMALL}/documents.parquet",
                "--dest", dest,
                "--shards", "2",
                "--incremental",
            ]
        )
        assert rc == 0
    out = capsys.readouterr().out
    assert "incremental corpus build:" in out
    assert "no-op (nothing past the watermark)" in out
    assert json.load(open(f"{dest}/_manifest.json"))["n_rows"] > 0

    # corpus-global stages are rejected in incremental mode
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(
            [
                "build-corpus",
                "--src", f"{SF_SMALL}/documents.parquet",
                "--dest", dest,
                "--incremental",
                "--split-mode", "doc",
            ]
        )


def test_cli_build_corpus_retract_benchmark(spark, tmp_path, capsys):
    from cardano_spark.__main__ import main

    dest = str(tmp_path / "out")
    rc = main(
        [
            "build-corpus",
            "--src", f"{SF_SMALL}/documents.parquet",
            "--dest", dest,
            "--shards", "2",
            "--incremental",
        ]
    )
    assert rc == 0
    n0 = json.load(open(f"{dest}/_manifest.json"))["n_rows"]
    # late benchmark = verbatim text of one exported doc
    bench_path = str(tmp_path / "bench")
    spark.read.parquet(dest).select("text").limit(1).write.parquet(
        bench_path
    )
    rc = main(
        [
            "build-corpus",
            "--src", f"{SF_SMALL}/documents.parquet",
            "--dest", dest,
            "--shards", "2",
            "--incremental",
            "--retract-benchmark", bench_path,
            "--contamination-max", "0.2",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "retracted;" in out
    assert json.load(open(f"{dest}/_manifest.json"))["n_rows"] < n0

    # batch mode rejects the flag
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(
            [
                "build-corpus",
                "--src", f"{SF_SMALL}/documents.parquet",
                "--dest", str(tmp_path / "b"),
                "--retract-benchmark", bench_path,
            ]
        )


def test_build_corpus_incremental_torn_state_replay_converges(
    spark, tmp_path
):
    """Crash-safety of the state fold order (survivors -> bands ->
    seen -> watermark, every table a keyed idempotent merge sink):
    simulate a crash AFTER batch 2's survivors folded but BEFORE the
    seen-digest gate and watermark advanced, then replay the batch —
    the re-run must recompute identically, absorb the duplicate
    survivor merge (no doubled doc_ids), and converge to the same
    final state a clean run produces."""
    from cardano_spark.pipelines.corpus import build_corpus_incremental
    from cardano_spark.sinks.merge import ParquetMergeSink

    schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    b1 = spark.createDataFrame(
        [(10, "the first document body is long enough with the usual "
              "common words to pass the gate", "en", "web", 90)],
        schema,
    )
    b2 = spark.createDataFrame(
        [(11, "the second document body is here and it is long enough "
              "with the usual common words too", "en", "web", 95)],
        schema,
    )
    kw = dict(min_quality=0.3, min_tokens=3, n_shards=4)
    dest = str(tmp_path / "inc")
    build_corpus_incremental(spark, b1, dest, **kw)

    # torn state: batch 2's survivor rows land (the FIRST fold step)
    # but nothing else does — exactly a crash mid-fold
    surv_sink = ParquetMergeSink(
        spark, f"{dest}/_state/survivors", b2.schema, ["doc_id"]
    )
    surv_sink.merge(b2)

    a2 = build_corpus_incremental(spark, b2, dest, **kw)
    assert a2.n_arrived == 1          # watermark had NOT advanced
    assert a2.n_after_quality == 1    # gates recompute identically
    assert a2.n_survivors_total == 2  # merge absorbed the replayed row
    assert a2.watermark == 11
    rows = spark.read.parquet(dest).select("doc_id").collect()
    ids = sorted(r.doc_id for r in rows)
    assert ids == [10, 11]            # no doubled survivor in shards

    # and a full replay AFTER the seen fold is gated to a no-op body
    a3 = build_corpus_incremental(spark, b2, dest, **kw)
    assert a3.n_arrived == 0 and a3.n_survivors_total == 2


#: the fold steps of a later arrival batch, in the order they run
FOLD_STEPS = (
    "survivors",
    "shard_delta",
    "precut",
    "band_index",
    "seen",
    "para_index",
    "watermark",
)


def _fold_batches(spark):
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    return [
        spark.createDataFrame(
            [(10, "the first document body is long enough with the usual "
                  "common words to pass the gate", "en", "web", 90)],
            schema,
        ),
        spark.createDataFrame(
            [(11, "the second document body is here and it is long enough "
                  "with the usual common words too", "en", "web", 95)],
            schema,
        ),
    ]


#: every fold step runs: cut mode keeps precut originals and
#: paragraph dedup keeps its digest index
_FOLD_KW = dict(
    min_quality=0.3, min_tokens=3, n_shards=4,
    decontam_mode="cut", paragraph_dedup=True,
)


def _fold_outcome(spark, dest, schema):
    """Survivor rows, shard read-back rows and manifest digests."""
    from cardano_spark.sinks.merge import ParquetMergeSink
    from cardano_spark.sinks.shards import read_manifest

    survivors = ParquetMergeSink(spark, f"{dest}/_state/survivors", schema, ["doc_id"])
    return (
        sorted(survivors.read().collect()),
        sorted(spark.read.parquet(dest).select("doc_id", "text").collect()),
        [(e["shard_id"], e["rows"], e["digest"]) for e in read_manifest(dest).shards],
    )


@pytest.fixture(scope="module")
def clean_fold(spark, tmp_path_factory):
    from cardano_spark.pipelines.corpus import build_corpus_incremental

    dest = str(tmp_path_factory.mktemp("clean_fold"))
    batches = _fold_batches(spark)
    for b in batches:
        build_corpus_incremental(spark, b, dest, **_FOLD_KW)
    return _fold_outcome(spark, dest, batches[0].schema)


@pytest.mark.parametrize("step", FOLD_STEPS)
def test_build_corpus_incremental_crash_at_each_fold_step_converges(
    spark, tmp_path, monkeypatch, clean_fold, step
):
    """A crash at any fold step of a later arrival batch, then a
    replay, leaves the survivors, the exported shards and the manifest
    digests of an uninterrupted run. The export runs before the seen
    gate: a replay the gate drops exports nothing, so a crash between
    the two would lose the batch from the shards."""
    import cardano_spark.pipelines.corpus as CORPUS
    from cardano_spark.sinks.merge import ParquetMergeSink
    from cardano_spark.watermark import ParquetWatermarkStore

    def crash(*args, **kwargs):
        raise RuntimeError(f"simulated crash at {step}")

    real_merge = ParquetMergeSink.merge

    def merge_or_crash(self, *args, **kwargs):
        if self.path.endswith(f"/_state/{step}"):
            crash()
        return real_merge(self, *args, **kwargs)

    b1, b2 = _fold_batches(spark)
    dest = str(tmp_path / "inc")
    CORPUS.build_corpus_incremental(spark, b1, dest, **_FOLD_KW)
    with monkeypatch.context() as m:
        if step == "shard_delta":
            m.setattr(CORPUS, "write_training_shards_delta", crash)
        elif step == "watermark":
            m.setattr(ParquetWatermarkStore, "upsert", crash)
        else:
            m.setattr(ParquetMergeSink, "merge", merge_or_crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            CORPUS.build_corpus_incremental(spark, b2, dest, **_FOLD_KW)
    audit = CORPUS.build_corpus_incremental(spark, b2, dest, **_FOLD_KW)
    assert audit.watermark == 11 and audit.n_survivors_total == 2
    assert _fold_outcome(spark, dest, b2.schema) == clean_fold


@pytest.mark.parametrize("step", ["shard_delta", "precut"])
def test_build_corpus_incremental_cut_retraction_crash_converges(
    spark, tmp_path, monkeypatch, step
):
    """A cut-mode arrival batch that also retracts crashes after its
    survivors folded; the replay sees the batch's own survivors in the
    state but no pre-cut originals for them yet. The retraction diffs
    only the previously-processed docs, so the replay converges to an
    uninterrupted run instead of refusing them as uncovered."""
    import cardano_spark.pipelines.corpus as CORPUS
    from cardano_spark.sinks.merge import ParquetMergeSink

    b1, b2 = _fold_batches(spark)
    retract = spark.createDataFrame(
        [("the first document body is long enough with",)], "text string"
    )
    kw = dict(_FOLD_KW, retract_benchmark=retract)

    def crash(*args, **kwargs):
        raise RuntimeError(f"simulated crash at {step}")

    real_merge = ParquetMergeSink.merge

    def merge_or_crash(self, *args, **kwargs):
        if self.path.endswith("/_state/precut"):
            crash()
        return real_merge(self, *args, **kwargs)

    outcomes = []
    for torn in (False, True):
        dest = str(tmp_path / f"torn{torn}")
        CORPUS.build_corpus_incremental(spark, b1, dest, **_FOLD_KW)
        if torn:
            with monkeypatch.context() as m:
                if step == "shard_delta":
                    m.setattr(CORPUS, "write_training_shards_delta", crash)
                else:
                    m.setattr(ParquetMergeSink, "merge", merge_or_crash)
                with pytest.raises(RuntimeError, match="simulated crash"):
                    CORPUS.build_corpus_incremental(spark, b2, dest, **kw)
        audit = CORPUS.build_corpus_incremental(spark, b2, dest, **kw)
        assert audit.watermark == 11
        if not torn:
            assert audit.n_retracted == 1  # doc 10 re-cut
        outcomes.append(_fold_outcome(spark, dest, b2.schema))
    assert outcomes[0] == outcomes[1]
    exported = dict(outcomes[0][1])
    assert exported[10] != b1.first().text and 11 in exported


def test_build_corpus_decontam_cut_mode(spark, tmp_path):
    """--decontam-mode cut: a long document quoting a benchmark item
    survives with the quote excised (drop mode would keep it only by
    diluting, or kill it entirely at a tighter threshold); a document
    that IS the benchmark item dies at the min_tokens gate after full
    excision. Batch and incremental agree."""
    from cardano_spark.pipelines.corpus import (
        build_corpus,
        build_corpus_incremental,
    )

    span = " ".join(f"q{i}" for i in range(12))
    clean = " ".join(f"w{i}" for i in range(30))
    rows = [
        (1, f"{clean} {span}", "en", "web", 0),   # quote inside clean text
        (2, span, "en", "web", 0),                # pure benchmark copy
        (3, " ".join(f"z{i}" for i in range(40)), "en", "web", 0),  # clean
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).withColumn("n_chars", F.length("text").cast("long"))
    bench = spark.createDataFrame(
        [(100, f"bench intro {span} bench outro")],
        "doc_id long, text string",
    )

    dest = str(tmp_path / "cut")
    audit = build_corpus(
        spark, docs, dest, benchmark=bench,
        min_tokens=5, decontam_mode="cut",
    )
    back = {
        r.doc_id: r.text
        for r in spark.read.parquet(dest).select("doc_id", "text").collect()
    }
    assert set(back) == {1, 3}          # doc 2 fully excised -> thin -> gone
    assert back[1] == clean             # the quote is gone, the rest verbatim
    assert audit.n_after_decontam == 3  # cut keeps documents at this stage

    # drop mode at a tight threshold kills doc 1 whole — the waste cut avoids
    dest2 = str(tmp_path / "drop")
    build_corpus(
        spark, docs, dest2, benchmark=bench,
        min_tokens=5, contamination_max=0.05, decontam_mode="drop",
    )
    assert {
        r.doc_id for r in spark.read.parquet(dest2).select("doc_id").collect()
    } == {3}

    # incremental twin converges to the batch result
    dest3 = str(tmp_path / "inc")
    build_corpus_incremental(
        spark, docs, dest3, benchmark=bench,
        min_tokens=5, decontam_mode="cut",
    )
    back3 = {
        r.doc_id: r.text
        for r in spark.read.parquet(dest3).select("doc_id", "text").collect()
    }
    assert back3 == back


def test_build_corpus_paragraph_stage(spark, tmp_path):
    """--paragraph-dedup semantics: a doc sharing a long run with an
    earlier doc survives with the shared paragraphs CUT; a doc whose
    every paragraph is claimed elsewhere drops at the stage."""
    run = " ".join(f"p{i % 7}r{i % 5}" for i in range(48))
    tail = "the quick brown fox jumps over the lazy dog in the field"
    rows = [
        (1, run + " " + tail, "en", "web", 0),
        # shares the long run, different position + own tail: must
        # survive with the run's interior paragraphs removed
        (2, "alpha beta " + run + " " + tail + " omega", "en", "web", 0),
        # exact copy of doc 1: every paragraph claimed -> drops at
        # the paragraph stage (before doc-level exact dedup)
        (3, run + " " + tail, "en", "web", 0),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    audit = build_corpus(
        spark,
        docs,
        str(tmp_path / "out"),
        n_shards=2,
        paragraph_dedup=True,
    )
    assert audit.n_input == 3
    assert audit.n_after_paragraph == 2  # doc 3 fully claimed
    exported = {
        r.doc_id: r.text
        for r in spark.read.parquet(str(tmp_path / "out"))
        .select("doc_id", "text")
        .collect()
    }
    assert set(exported) == {1, 2}
    assert exported[1] == rows[0][1]  # first doc keeps everything
    # doc 2 lost tokens to the dedup but kept its unique material
    assert len(exported[2].split()) < len(rows[1][1].split())
    assert "alpha" in exported[2] and "omega" in exported[2]


def test_build_corpus_paragraph_off_audit_sentinel(spark, tmp_path):
    audit = build_corpus(
        spark, _docs(spark), str(tmp_path / "out"), n_shards=2
    )
    assert audit.n_after_paragraph == -1


def test_build_corpus_incremental_paragraph_converges_to_batch(
    spark, tmp_path
):
    """Incremental paragraph dedup (persisted para-digest index)
    converges to the batch twin for any arrival split: survivor ids
    AND rewritten texts equal build_corpus(paragraph_dedup=True,
    neardup_rule='keep_first_pairwise') over the union."""
    from cardano_spark.catalog import table
    from cardano_spark.pipelines.corpus import build_corpus_incremental

    docs = table(spark, SF_SMALL, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    kw = dict(
        neardup_threshold=0.8, min_quality=0.3, min_tokens=3,
        n_shards=4, paragraph_dedup=True,
    )
    batch_dest = str(tmp_path / "batch")
    audit = build_corpus(
        spark, docs, batch_dest, neardup_rule="keep_first_pairwise", **kw
    )
    assert audit.n_after_paragraph < audit.n_input or (
        audit.n_after_paragraph == audit.n_input
    )
    batch_docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(batch_dest)
        .select("doc_id", "text")
        .collect()
    }
    assert batch_docs, "fixture produced no survivors"
    # the stage is non-trivial on this slice: some exported text was
    # actually rewritten (shorter than its input)
    orig = {r.doc_id: r.text for r in docs.collect()}
    assert any(
        len(t.split()) < len(orig[d].split())
        for d, t in batch_docs.items()
    ), "paragraph stage was vacuous on the fixture slice"

    for n_batches, cuts in ((2, [250]), (3, [160, 330])):
        dest = str(tmp_path / f"inc{n_batches}")
        bounds = [float("-inf"), *cuts, float("inf")]
        for i in range(n_batches):
            arrival = docs.filter(
                (F.col("doc_id") >= bounds[i])
                & (F.col("doc_id") < bounds[i + 1])
            )
            build_corpus_incremental(spark, arrival, dest, **kw)
        inc_docs = {
            r.doc_id: r.text
            for r in spark.read.parquet(dest)
            .select("doc_id", "text")
            .collect()
        }
        assert inc_docs == batch_docs, f"split={n_batches}"


def test_cli_build_corpus_paragraph_dedup(spark, tmp_path, capsys):
    from cardano_spark.__main__ import main

    dest = str(tmp_path / "out")
    rc = main(
        [
            "build-corpus",
            "--src", f"{SF_SMALL}/documents.parquet",
            "--dest", dest,
            "--shards", "2",
            "--paragraph-dedup",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "after paragraph dedup ->" in out


def test_build_corpus_jsonl_export(spark, tmp_path):
    audit = build_corpus(
        spark,
        _docs(spark),
        str(tmp_path / "out"),
        n_shards=2,
        export_format="jsonl",
    )
    assert audit.manifest.n_rows > 0
    assert all(s["file"].endswith(".json") for s in audit.manifest.shards)
    back = spark.read.json(str(tmp_path / "out"))
    assert back.count() == audit.manifest.n_rows
    assert {"doc_id", "text"} <= set(back.columns)


def test_build_corpus_incremental_torn_retraction_replay_converges(
    spark, tmp_path, monkeypatch
):
    """Crash-safety of the RETRACTION order (r9 ADVICE): the shard
    delta lands FIRST, the survivor delete second — retract ids are
    derived from the survivor state, so the reverse order would let a
    crash between the two strand contaminated rows in the export
    forever (the replay would re-derive an EMPTY retract set). Here
    the crash is simulated exactly in that window — the delta has
    been applied, the survivor delete raises — and the replay must
    re-derive the SAME retract set (survivors still intact), fold the
    delta idempotently (deleting already-absent keys is a no-op) and
    finish the survivor delete, converging to the clean outcome."""
    from cardano_spark.catalog import table
    from cardano_spark.pipelines.corpus import build_corpus_incremental
    from cardano_spark.sinks.merge import ParquetMergeSink

    docs = table(spark, SF_SMALL, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    kw = dict(
        neardup_threshold=0.8, contamination_max=0.2,
        min_quality=0.0, min_tokens=1, n_shards=4,
    )
    dest = str(tmp_path / "inc")
    build_corpus_incremental(spark, docs, dest, **kw)
    surv1 = spark.read.parquet(dest).select("doc_id", "text")
    picked = surv1.orderBy("doc_id").limit(3).localCheckpoint()
    retract = picked.select("text").localCheckpoint()
    picked_ids = {r.doc_id for r in picked.select("doc_id").collect()}

    # crash INSIDE the window: let the shard delta run, kill the
    # survivor delete
    real_delete = ParquetMergeSink.delete

    def torn_delete(self, keys):
        raise RuntimeError("simulated crash before the survivor delete")

    monkeypatch.setattr(ParquetMergeSink, "delete", torn_delete)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        build_corpus_incremental(
            spark, docs.filter(F.lit(False)), dest,
            retract_benchmark=retract, **kw
        )
    monkeypatch.setattr(ParquetMergeSink, "delete", real_delete)

    # torn state: export already clean (delta landed), survivors
    # still carry the contaminated docs (delete never ran)
    exported_mid = {
        r.doc_id
        for r in spark.read.parquet(dest).select("doc_id").collect()
    }
    assert picked_ids.isdisjoint(exported_mid)
    surv_state = ParquetMergeSink(
        spark, f"{dest}/_state/survivors",
        surv1.limit(0).schema, ["doc_id"],
    )
    # NOTE: constructed with a 2-col schema only to probe ids cheaply

    # replay the retraction-only pass: retract ids re-derive from the
    # intact survivor state, the delta folds to a no-op, the delete
    # completes
    a = build_corpus_incremental(
        spark, docs.filter(F.lit(False)), dest,
        retract_benchmark=retract, **kw
    )
    assert a.n_retracted >= 3
    exported = {
        r.doc_id
        for r in spark.read.parquet(dest).select("doc_id").collect()
    }
    assert exported == exported_mid  # idempotent delta, no re-loss
    surv_ids = {
        r.doc_id for r in surv_state.read().select("doc_id").collect()
    }
    assert picked_ids.isdisjoint(surv_ids)
    assert surv_ids == exported  # survivor state == export, converged

    # a third pass retracts nothing: fully converged
    a2 = build_corpus_incremental(
        spark, docs.filter(F.lit(False)), dest,
        retract_benchmark=retract, **kw
    )
    assert a2.n_retracted == 0


def test_build_corpus_retraction_requested_without_export_reports_zero(
    spark, tmp_path
):
    """A retraction requested against a never-exported corpus reports
    n_retracted = 0, reserving -1 strictly for 'not requested' (r9
    ADVICE): callers can tell a requested-but-skipped retraction from
    none requested."""
    from cardano_spark.catalog import table
    from cardano_spark.pipelines.corpus import build_corpus_incremental

    docs = table(spark, SF_SMALL, "documents")
    bench = docs.limit(1).select("text")
    a = build_corpus_incremental(
        spark, docs.filter(F.lit(False)), str(tmp_path / "x"),
        retract_benchmark=bench,
        min_quality=0.0, min_tokens=1, n_shards=2,
    )
    assert a.n_arrived == 0 and a.n_retracted == 0
    assert a.export is None


def _sem_docs_and_embeddings(spark, sf_dir):
    """Real-fixture slice for the semantic corpus stage: every third
    document joined with its embedding row (vec_id == doc_id on the
    driver fixture ranges used here)."""
    from cardano_spark.catalog import table

    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    )
    emb = (
        table(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("doc_id"), "embedding")
        .filter(F.col("doc_id") % 3 == 0)
    )
    return docs, emb


def test_build_corpus_semantic_stage_batch(spark, tmp_path):
    """The SEMANTIC stage (r10 verdict, What's missing #1) runs
    between near-dup and decontamination, drops exactly the docs
    q109's semantic_dedup flags over the near survivors, keeps docs
    without an embedding row, and lands in the audit + attribute
    ledger."""
    from cardano_spark.operators import similarity as SIM

    docs, emb = _sem_docs_and_embeddings(spark, SF_SMALL)
    # hold back some embedding rows: those docs must be KEPT
    emb_part = emb.filter(F.col("doc_id") % 9 != 0)
    dest = str(tmp_path / "out")
    audit = build_corpus(
        spark, docs, dest,
        neardup_rule="keep_first_pairwise",
        embeddings=emb_part, emit_attributes=True, n_shards=2,
    )
    assert audit.n_after_neardup >= audit.n_after_semantic >= audit.n_after_quality
    assert audit.n_after_semantic != -1
    # recompute the stage's expected drop set from the operator
    near_ids_ledger = spark.read.parquet(audit.attributes_path)
    near_ids = near_ids_ledger.filter(
        F.col("survived_neardup") == 1
    ).select("doc_id")
    flags = SIM.semantic_dedup(
        near_ids.join(emb_part, "doc_id"), "doc_id", "embedding",
        n_centroids=8, threshold=0.25, auto_k=True, assign="auto",
    )
    expect_dropped = {
        r.vec_id for r in flags.filter(F.col("is_dup") == 1).collect()
    }
    sem_survivors = {
        r.doc_id
        for r in near_ids_ledger.filter(
            F.col("survived_semantic") == 1
        ).select("doc_id").collect()
    }
    near_set = {r.doc_id for r in near_ids.collect()}
    assert sem_survivors == near_set - expect_dropped
    # docs without an embedding row survived the stage
    no_emb_near = {d for d in near_set if d % 9 == 0}
    assert no_emb_near and no_emb_near <= sem_survivors


def test_build_corpus_incremental_semantic_converges_to_batch(
    spark, tmp_path
):
    """Incremental semantic serving == the batch build over the union
    under the SAME frozen model (the q190 convergence contract as a
    corpus stage): for 1/2/3-batch arrival splits, survivors and
    shard read-back equal build_corpus(semantic_centroids=<the model
    the incremental run froze>), and the retraction-era contracts
    (watermark, |new|-bounded folds) still hold."""
    from cardano_spark.pipelines.corpus import build_corpus_incremental

    docs, emb = _sem_docs_and_embeddings(spark, SF_SMALL)
    kw = dict(min_quality=0.3, min_tokens=3, n_shards=4)

    # incremental first: its first batch freezes the model the batch
    # twin must be pinned to
    ref_ids = None
    for n_batches, cuts in ((1, []), (2, [250]), (3, [160, 330])):
        dest = str(tmp_path / f"inc{n_batches}")
        bounds = [float("-inf"), *cuts, float("inf")]
        last = None
        for i in range(n_batches):
            arrival = docs.filter(
                (F.col("doc_id") >= bounds[i])
                & (F.col("doc_id") < bounds[i + 1])
            )
            last = build_corpus_incremental(
                spark, arrival, dest, embeddings=emb, **kw
            )
        assert last is not None and last.n_after_semantic != -1
        assert last.semantic_model_version == 1
        inc_ids = {
            r.doc_id
            for r in spark.read.parquet(dest).select("doc_id").collect()
        }
        if ref_ids is None:
            ref_ids = inc_ids
        assert inc_ids == ref_ids, f"split={n_batches}"

    # batch twin under the model the 1-batch incremental run froze
    model = (
        spark.read.parquet(str(tmp_path / "inc1/_state/semantic_model"))
        .filter(F.col("model_version") == 1)
        .select("cid", "centroid")
    )
    batch_dest = str(tmp_path / "batch")
    build_corpus(
        spark, docs, batch_dest,
        neardup_rule="keep_first_pairwise",
        embeddings=emb, semantic_centroids=model, **kw,
    )
    batch_ids = {
        r.doc_id
        for r in spark.read.parquet(batch_dest).select("doc_id").collect()
    }
    assert batch_ids == ref_ids
    assert batch_ids, "fixture produced no survivors"


def test_build_corpus_incremental_semantic_refresh_e2e(spark, tmp_path):
    """Executing a q192-advised refresh (r10 verdict, What's missing
    #2), end-to-end: a drifted arrival batch trips the drift check,
    the warm-start candidate becomes model v2, already-shipped flags
    stay shipped, the persisted assignments migrate lazily at the
    next serve, and the next batch's flags equal a from-scratch
    frozen-model serve under v2."""
    from cardano_spark.operators import similarity as SIM
    from cardano_spark.pipelines.corpus import build_corpus_incremental

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
            "n_chars long"
        )

    def mke(rows):
        return spark.createDataFrame(rows, "doc_id long, embedding array<double>")

    def txt(i):
        # token-DISJOINT per doc: the near-dup stage must keep all of
        # them so the semantic stage is the only dedup in play
        return " ".join(f"tok{i}x{j}" for j in range(8))

    # batch 1 (ids 0..19): two exact direction groups -> model v1
    # (seeds = 8 smallest ids: cids 0,2,4,6 = x-axis, 1,3,5,7 =
    # y-axis; identical seeds tie-break to the smallest cid)
    d1 = mk([(i, txt(i), "en", "a", 120) for i in range(20)])
    e1 = mke(
        [
            (i, [1.0, 0.0, 0.0, 0.0])
            if i % 2 == 0
            else (i, [0.0, 1.0, 0.0, 0.0])
            for i in range(20)
        ]
    )
    # batch 2 (ids 20..39): DRIFTED. The sampled half (even ids) is
    # engineered so one warm Lloyd step flips 4 of 10 assignments
    # (< 3/4 agreement -> refresh advised): "flippers" sit between
    # the x and y frozen clusters (frozen -> x), "pullers" drag the
    # x cluster's warm centroid toward z so the flippers re-argmax
    # to y, "anchors" hold the y cluster in place.
    flip, pull, anch = [0.6, 0.55, 0.0, 0.0], [0.2, 0.0, 3.0, 0.0], [0.05, 1.0, 0.0, 0.0]
    e2_rows = []
    for i in range(20, 40):
        if i % 2 == 1:
            v = [0.0, 1.0, 0.3, 0.0]
        elif i < 28:
            v = flip
        elif i < 34:
            v = pull
        else:
            v = anch
        e2_rows.append((i, v))
    d2 = mk([(i, txt(i), "en", "a", 120) for i in range(20, 40)])
    e2 = mke(e2_rows)
    # batch 3 (ids 40..49): near-copies of batch-2 directions (must
    # be flagged under the refreshed model) + fresh directions (kept)
    d3 = mk([(i, txt(i), "en", "a", 120) for i in range(40, 50)])
    e3 = mke(
        [
            (i, flip)
            if i < 45
            else (i, [0.0, 0.0, 0.001 * i, 1.0])
            for i in range(40, 50)
        ]
    )
    dest = str(tmp_path / "corpus")
    allemb = e1.unionByName(e2).unionByName(e3).localCheckpoint()
    kw = dict(min_quality=0.0, min_tokens=1, n_shards=2,
              semantic_refresh="auto")
    b1 = build_corpus_incremental(spark, d1, dest, embeddings=allemb, **kw)
    assert b1.semantic_model_version == 1
    b2 = build_corpus_incremental(spark, d2, dest, embeddings=allemb, **kw)
    assert b2.semantic_refresh_advised == 1, "fixture failed to drift"
    assert b2.semantic_model_version == 2
    # shipped flags stayed shipped: batches 1-2 survivors unchanged
    shipped_after_b2 = {
        r.doc_id
        for r in spark.read.parquet(dest).select("doc_id").collect()
    }
    b3 = build_corpus_incremental(spark, d3, dest, embeddings=allemb, **kw)
    assert b3.semantic_model_version == 2  # served under v2, no new bump or bumped again
    shipped_after_b3 = {
        r.doc_id
        for r in spark.read.parquet(dest).select("doc_id").collect()
    }
    assert shipped_after_b2 <= shipped_after_b3 | set(range(40))
    assert shipped_after_b2 == {d for d in shipped_after_b3 if d < 40}
    # the index migrated: every persisted assignment row carries the
    # CURRENT version and equals a from-scratch assignment under it
    mv = b3.semantic_model_version
    model_now = (
        spark.read.parquet(f"{dest}/_state/semantic_model")
        .filter(F.col("model_version") == 2)
        .select("cid", "centroid")
        .localCheckpoint()
    )
    idx = spark.read.parquet(f"{dest}/_state/semantic_index")
    # batch-3 rows fold at the serving version (2); batch-1/2 rows
    # were migrated at the batch-3 serve
    assert {r.model_version for r in idx.select("model_version").distinct().collect()} == {2}
    expect_assign = {
        (r.doc_id, r.cluster_id)
        for r in SIM.assign_to_centroids(
            idx.select("doc_id", "embedding"), "doc_id", "embedding",
            model_now,
        ).collect()
    }
    got_assign = {(r.doc_id, r.cluster_id) for r in idx.collect()}
    assert got_assign == expect_assign
    # batch 3's flags equal a from-scratch frozen-model serve under
    # v2: blockers = all pre-batch-3 index rows re-assigned under v2
    pre3 = idx.filter(F.col("doc_id") < 40).select("doc_id", "embedding")
    blockers = pre3.join(
        SIM.assign_to_centroids(pre3, "doc_id", "embedding", model_now),
        "doc_id",
    ).select("doc_id", "cluster_id", "embedding")
    flags3 = SIM.semantic_dedup_serve(
        blockers,
        allemb.filter(F.col("doc_id") >= 40),
        "doc_id", "embedding", model_now, 0.25,
    )
    expect_dropped3 = {
        r.vec_id for r in flags3.filter(F.col("is_dup") == 1).collect()
    }
    got_b3_survivors = {d for d in shipped_after_b3 if d >= 40}
    assert got_b3_survivors == set(range(40, 50)) - expect_dropped3
    assert expect_dropped3, "fixture planted no semantic near-copies"


def test_cut_retraction_refuses_uncovered_precut(spark, tmp_path):
    """r10 ADVICE (medium): a corpus exported in DROP mode has no
    pre-cut originals, so a later cut-mode retraction must refuse
    loudly instead of treating every uncovered survivor as retracted
    and silently deleting the whole export."""
    import pytest as _pytest

    from cardano_spark.catalog import table
    from cardano_spark.pipelines.corpus import build_corpus_incremental

    docs = table(spark, SF_SMALL, "documents").filter(
        F.col("doc_id") % 7 == 0
    )
    dest = str(tmp_path / "corpus")
    a = build_corpus_incremental(
        spark, docs, dest, decontam_mode="drop",
        min_quality=0.0, min_tokens=1, n_shards=2,
    )
    assert a.n_survivors_total > 0
    bench = docs.limit(1).select("text")
    with _pytest.raises(RuntimeError, match="pre-cut original"):
        build_corpus_incremental(
            spark, docs.filter(F.lit(False)), dest,
            decontam_mode="cut", retract_benchmark=bench,
            min_quality=0.0, min_tokens=1, n_shards=2,
        )
    # the refusal left the export intact
    kept = {
        r.doc_id
        for r in spark.read.parquet(dest).select("doc_id").collect()
    }
    assert len(kept) == a.n_survivors_total


def test_cli_build_corpus_semantic_flags(spark, tmp_path, capsys):
    from cardano_spark.__main__ import main

    emb_path = str(tmp_path / "emb")
    spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    ).write.parquet(emb_path)
    dest = str(tmp_path / "out")
    rc = main(
        [
            "build-corpus",
            "--src", f"{SF_SMALL}/documents.parquet",
            "--dest", dest,
            "--shards", "2",
            "--embeddings", emb_path,
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "after semantic dedup" in out
    # incremental + refresh flag parses and runs
    rc = main(
        [
            "build-corpus",
            "--src", f"{SF_SMALL}/documents.parquet",
            "--dest", str(tmp_path / "inc"),
            "--shards", "2",
            "--incremental",
            "--embeddings", emb_path,
            "--semantic-refresh", "auto",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "after semantic dedup (model v1" in out


def test_build_corpus_semantic_occupancy_regime(spark, tmp_path):
    """semantic_occupancy_cap routes the batch semantic stage through
    the q193/q194 occupancy machinery (k = ceil(n/cap), three-level
    tree): the stage drops exactly what semantic_dedup with the same
    parameters flags over the near survivors."""
    from cardano_spark.operators import similarity as SIM

    docs, emb = _sem_docs_and_embeddings(spark, SF_SMALL)
    dest = str(tmp_path / "out")
    audit = build_corpus(
        spark, docs, dest,
        neardup_rule="keep_first_pairwise",
        embeddings=emb, semantic_occupancy_cap=16,
        emit_attributes=True, n_shards=2,
    )
    assert audit.n_after_semantic != -1
    ledger = spark.read.parquet(audit.attributes_path)
    near_ids = ledger.filter(F.col("survived_neardup") == 1).select(
        "doc_id"
    )
    flags = SIM.semantic_dedup(
        near_ids.join(emb, "doc_id"), "doc_id", "embedding",
        n_centroids=8, threshold=0.25, auto_k=True,
        assign="hierarchical3", probes=2, occupancy_cap=16,
    )
    expect_dropped = {
        r.vec_id for r in flags.filter(F.col("is_dup") == 1).collect()
    }
    sem_survivors = {
        r.doc_id
        for r in ledger.filter(F.col("survived_semantic") == 1)
        .select("doc_id").collect()
    }
    near_set = {r.doc_id for r in near_ids.collect()}
    assert sem_survivors == near_set - expect_dropped


def test_incremental_semantic_model_init_self_heals(spark, tmp_path):
    """A first batch whose docs have NO embedding rows cannot freeze
    a model; the stage must no-op (nothing dropped, version still
    unfrozen -> reported as served-under-1 with an empty model is
    avoided: mv init writes nothing) and the FIRST batch that does
    carry embeddings freezes the model — the quiet-start twin of the
    refresh crash-ordering argument."""
    from cardano_spark.pipelines.corpus import build_corpus_incremental

    def mk(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, "
            "n_chars long"
        )

    def txt(i):
        return " ".join(f"w{i}x{j}" for j in range(8))

    emb = spark.createDataFrame(
        [(i, [1.0 / (1 + i), 1.0, 0.0, 0.0]) for i in range(20, 40)],
        "doc_id long, embedding array<double>",
    )
    dest = str(tmp_path / "c")
    kw = dict(min_quality=0.0, min_tokens=1, n_shards=2)
    b1 = build_corpus_incremental(
        spark, mk([(i, txt(i), "en", "a", 100) for i in range(20)]),
        dest, embeddings=emb, **kw,
    )
    # no embeddings for batch-1 ids: stage judged nothing, dropped
    # nothing
    assert b1.n_after_semantic == b1.n_after_neardup
    b2 = build_corpus_incremental(
        spark, mk([(i, txt(i), "en", "a", 100) for i in range(20, 40)]),
        dest, embeddings=emb, **kw,
    )
    # the first embedding-bearing batch froze the model (v1) and the
    # near-identical directions dedup within the batch
    assert b2.semantic_model_version == 1
    model = spark.read.parquet(f"{dest}/_state/semantic_model")
    assert model.count() > 0
    assert b2.n_after_semantic < b2.n_after_neardup


def test_build_corpus_incremental_fully_claimed_paragraph_batch_advances(
    spark, tmp_path
):
    """A batch whose every document is fully claimed by earlier
    paragraphs drops whole at the paragraph stage. The watermark still
    advances to the max arriving id (dropped docs count as processed,
    as in the batch twin), the survivors stay as they were, and a
    replay of the batch is a no-op."""
    from cardano_spark.pipelines.corpus import build_corpus_incremental

    schema = "doc_id long, text string"
    dest = str(tmp_path / "inc")
    kw = dict(paragraph_dedup=True, n_shards=4)
    a1 = build_corpus_incremental(
        spark, spark.createDataFrame([(1, GOOD)], schema), dest, **kw
    )
    assert a1.watermark == 1 and a1.n_survivors_total == 1

    b2 = spark.createDataFrame([(2, GOOD)], schema)
    a2 = build_corpus_incremental(spark, b2, dest, **kw)
    assert a2.n_arrived == 1
    assert a2.n_after_paragraph == 0
    assert a2.watermark == 2
    assert a2.n_survivors_total == 1
    exported = {
        r.doc_id: r.text
        for r in spark.read.parquet(dest).select("doc_id", "text").collect()
    }
    assert exported == {1: GOOD}

    a3 = build_corpus_incremental(spark, b2, dest, **kw)
    assert a3.n_arrived == 0 and a3.export is None
    assert a3.n_survivors_total == 1
