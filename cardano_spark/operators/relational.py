"""Core relational building blocks re-expressed Spark-first.

These are the engine equivalents of the reference's hand-written SQL /
DAO patterns (SURVEY.md §2.4, §2.6, §2.7). Each is a thin, composable
DataFrame transform so Catalyst sees the whole plan (pushdown, join
re-ordering, AQE all apply).
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cardano_spark.functions.scalars import sql_ident

#: Default ceiling (bytes of on-disk parquet) under which a join side
#: may be FORCE-broadcast. Compressed parquet expands ~3-4x in memory,
#: so 64 MiB on disk is ~a quarter-GiB materialized on every executor —
#: comfortably inside an 8-16 GiB executor, far above Spark's 10 MB
#: auto threshold (we know these dims are hot), and far below the size
#: where a pinned hint becomes an OOM at the 100 TB design point.
DEFAULT_BROADCAST_GATE_BYTES = 64 << 20


def scan_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of the files feeding ``df``'s scan leaves —
    an UPPER BOUND on any projection/filter/join derived from them.
    Returns None when the size is unknowable (no file-backed leaves,
    or files on a filesystem ``os.stat`` can't reach, e.g. s3://) —
    callers must treat None as "assume big"."""
    files = df.inputFiles()
    if not files:
        return None
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        path = parsed.path or uri
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return total


def broadcast_if_small(
    df: DataFrame,
    threshold_bytes: int | None = None,
    size_bytes: int | None = None,
) -> DataFrame:
    """Size-GATED broadcast hint (J2 at scale). ``F.broadcast`` on a
    table that scales with the data (customer/part/supplier in TPC-H
    terms — unlike nation/region they grow linearly with SF) is
    correct at bench scale and an OOM bomb at the 100 TB design
    point: a forced hint overrides Spark's own size checks and
    materializes the whole side on every executor.

    This helper applies the hint only when the side is PROVABLY small:
    ``size_bytes`` (caller-known size) or :func:`scan_bytes` (sum of
    the frame's input files — an upper bound for any frame derived
    from them) must be at or under the threshold. Unknown size — empty
    ``inputFiles`` or a remote filesystem — means NO hint: Catalyst +
    AQE then pick the strategy from runtime statistics, which is
    exactly the safe default at cluster scale (AQE converts the join
    to broadcast anyway when the built side turns out small).

    The small-SF plan pins (BroadcastHashJoin in test_plan_shapes)
    therefore hold in the regime where they were measured, and the
    hint self-retires above it — the same per-regime contract as
    q56's measured ANN strategy crossover."""
    if threshold_bytes is None:
        threshold_bytes = DEFAULT_BROADCAST_GATE_BYTES
    if size_bytes is None:
        size_bytes = scan_bytes(df)
    if size_bytes is not None and size_bytes <= threshold_bytes:
        return F.broadcast(df)
    return df


def insert_if_absent(existing: DataFrame, incoming: DataFrame, keys: Sequence[str]) -> DataFrame:
    """``INSERT ... ON CONFLICT (pk) DO NOTHING`` as a DataFrame op.

    The reference's idempotency primitive (D1: temp table + ON CONFLICT,
    src/dao/cardano_block_dao.py:93-148) = keep all existing rows, add
    only incoming rows whose key is absent. Incoming is deduped on the
    key first (D2) because raw batches may overlap on re-run.

    Scale: the anti-join shuffles both sides on ``keys``; when
    ``existing`` is a real table, pre-filter it to the incoming key
    range (partition pruning) before calling — the DB sink variant
    (sinks/merge.py::DBUpsertSink) pushes this server-side instead.
    """
    fresh = incoming.dropDuplicates(list(keys)).join(existing, list(keys), "left_anti")
    return existing.unionByName(fresh)


def topk(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """ORDER BY ... LIMIT k (O1). Spark plans this as
    TakeOrderedAndProject — per-partition heap + driver merge, no full
    sort, no shuffle of the full input. ``order`` must be a total
    order (include a unique tiebreak) for deterministic results."""
    return df.orderBy(*order).limit(k)


def missing_children(
    parents: DataFrame, children: DataFrame, on: Sequence[str]
) -> DataFrame:
    """Ingestion-gap anti-join (J1; reference README.md:117-121 wrote
    it as LEFT JOIN ... WHERE child.col IS NULL). left_anti skips
    materializing the null-padded rows.

    Join strategy (r12, guide §3.1): when the children side is
    PROVABLY small (file bytes at or under the broadcast gate — the
    broadcast_if_small discipline) the planner's broadcast is left
    alone. Otherwise the join is pinned to sort-merge: Catalyst's
    size ESTIMATE for a filtered fact scan routinely lands under the
    auto-broadcast threshold while the real row count is millions,
    and the resulting single-threaded HashedRelation build is both
    the measured bottleneck (r12 10x derivation: broadcast anti
    1.28 s vs merge 0.49 s at sf1 — q04's 3.6x scale factor) and an
    OOM class at 100 TB, where a mis-estimated build side must spill,
    not hash."""
    size = scan_bytes(children)
    if size is None or size > DEFAULT_BROADCAST_GATE_BYTES:
        children = children.hint("merge")
    return parents.join(children, list(on), "left_anti")


def asof_join_prev(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    order: Sequence[str],
    carry: Sequence[str],
) -> DataFrame:
    """As-of join: for each ``left`` row, the latest ``right`` row with
    the same ``on`` keys at-or-before it in ``order`` (an exactly tied
    right row counts as earlier — pandas ``merge_asof``'s
    ``allow_exact_matches=True`` semantics, pinned by
    test_asof_join_prev_tie_is_earlier). Spark has no
    native ASOF JOIN; the naive form (inequality join + per-key top-1)
    explodes to O(L×R) pairs per key. This is the scalable rewrite:
    union both sides tagged, ONE shuffle on the key, and a single
    window pass fills each left row with the last-seen right row's
    carried columns (``last(..., ignorenulls)`` over an
    UNBOUNDED PRECEDING .. 1 PRECEDING frame — the "1 PRECEDING"
    makes the match strictly earlier and tie-safe, because ``order``
    must be a total order within each key group).

    ``carry`` columns are taken from ``right`` and returned as
    ``prev_<name>`` on every ``left`` row (NULL when no earlier right
    row exists). Both inputs must share the ``on`` + ``order`` columns;
    ``left``'s other columns pass through.
    """
    # SQL-text construction (guide §1/§5 driver latency — the Column
    # form cost ~600 py4j round trips per build, this ~40): identical
    # Catalyst window (same frame, same ignore-nulls last, same
    # ASC NULLS FIRST default ordering), results unchanged.
    on_q = [sql_ident(c) for c in on]
    order_q = [sql_ident(c) for c in order]
    lt = left.selectExpr("*", "1 AS _side")
    rt = right.selectExpr(
        *on_q,
        *order_q,
        *[f"{sql_ident(c)} AS {sql_ident(f'_carry_{c}')}" for c in carry],
    ).selectExpr("*", "0 AS _side")
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    # right rows sort before left rows at identical order values so an
    # exactly-tied right row is still "earlier" for deterministic output
    over = (
        f"OVER (PARTITION BY {', '.join(on_q)}"
        f" ORDER BY {', '.join(order_q)}, _side"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    )
    filled = unioned.selectExpr(
        "*",
        *[
            f"last({sql_ident(f'_carry_{c}')}, true) {over}"
            f" AS {sql_ident(f'prev_{c}')}"
            for c in carry
        ],
    )
    return filled.filter("_side = 1").drop(
        "_side", *[f"_carry_{c}" for c in carry]
    )


def range_join_count(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_point_us: Column | str,
    right_point_us: Column | str,
    window_us: int,
    out: str = "n_in_range",
) -> DataFrame:
    """Count, per ``left`` row, the ``right`` rows with equal ``on``
    keys whose time point lies in ``[left_point - window, left_point)``.

    A raw inequality join plans as BroadcastNestedLoop / O(L×R) per
    key. The scale rewrite is *bin bucketing*: both sides are keyed by
    ``floor(point / window)``; each left row probes its own bin and
    the previous one (the interval spans at most two bins), so the
    join is a plain equi shuffle join on (keys, bin) with 2× fan-out
    of the left side only, then the exact range predicate filters
    within buckets. Left rows with no matches are kept with count 0.

    Counts aggregate on an internal per-row id (not the left row's
    columns), so duplicate ``left`` rows each report their own true
    match count instead of multiplicity × count. The id-stamped left
    frame feeds TWO plan branches (probe and final join), so it is
    pinned with ``localCheckpoint`` — ``monotonically_increasing_id``
    re-evaluated over a nondeterministic upstream (any shuffle output)
    would otherwise assign different ids per branch and silently
    attach counts to the wrong rows (pinned by
    test_range_join_count_survives_shuffled_input).
    """
    # SQL-text construction where the args allow (guide §1/§5 driver
    # latency); ``left_point_us``/``right_point_us`` as SQL text take
    # the full fast path. Same Catalyst operators either way.
    w_us = int(window_us)
    if isinstance(left_point_us, str):
        lt = left.selectExpr(
            "*",
            f"({left_point_us}) AS _p",
            "monotonically_increasing_id() AS _rid",
        ).localCheckpoint(eager=False)
    else:
        lt = left.withColumn("_p", left_point_us).withColumn(
            "_rid", F.monotonically_increasing_id()
        ).localCheckpoint(eager=False)
    if isinstance(right_point_us, str):
        rt = right.selectExpr(*on, f"({right_point_us}) AS _q")
    else:
        rt = right.select(*on, right_point_us.alias("_q"))
    rt = rt.selectExpr("*", f"FLOOR(_q / {w_us}) AS _bin")
    probes = lt.selectExpr(
        "*",
        f"explode(array(FLOOR(_p / {w_us}) - 1,"
        f" FLOOR(_p / {w_us}))) AS _bin",
    )
    # a right row's single bin meets each left row at most once, so no
    # pair dedup is needed after the 2-bin probe explode
    hits = (
        probes.join(rt, [*on, "_bin"], "inner")
        .filter(f"(_q >= _p - {w_us}) AND (_q < _p)")
        .groupBy("_rid")
        .agg(F.expr(f"count(*) AS {sql_ident(out)}"))
    )
    return (
        lt.join(hits, "_rid", "left")
        .withColumn(out, F.expr(f"coalesce({sql_ident(out)}, 0)"))
        .drop("_p", "_rid")
    )


def with_running(
    df: DataFrame,
    partition: Sequence[str],
    order: Sequence[str],
    agg_col: Column | str,
    out: str,
) -> DataFrame:
    """Running aggregate over an explicit total order. The aggregated
    expression should be exact-typed (decimal/long) so the result is
    order-of-evaluation independent. ``agg_col`` as SQL text takes the
    text-construction fast path (guide §1/§5)."""
    if isinstance(agg_col, str):
        # ``agg_col`` is raw SQL by contract; partition/order/out are
        # column NAMES and get the identifier guard
        return df.selectExpr(
            "*",
            f"sum({agg_col}) OVER"
            f" (PARTITION BY {', '.join(sql_ident(c) for c in partition)}"
            f" ORDER BY {', '.join(sql_ident(c) for c in order)}"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            f" AS {sql_ident(out)}",
        )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(*partition)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return df.withColumn(out, F.sum(agg_col).over(w))


def scd2_from_changelog(
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    attr_cols: Sequence[str],
    seq_col: str | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change log:
    collapse consecutive rows whose tracked attributes did not change
    (gaps-and-islands), emit one versioned row per attribute EPISODE
    with ``valid_from`` / ``valid_to`` / ``is_current`` — the
    dimension-history build every warehouse runs on top of a CDC
    stream. ``valid_to`` is the next episode's start (half-open
    interval, NULL while current); ``seq_col`` breaks same-timestamp
    ties deterministically (defaults to the first attr).

    Scale shape: ONE hash exchange on the entity key; the three
    window passes (change flag via lag, episode id via running sum,
    valid_to via lead) all share that partitioning, so Catalyst plans
    a single Exchange with window operators stacked on one sort. Per
    entity the state is its own history — the classic MERGE-free,
    idempotent SCD2 derivation (re-running on the same log yields
    byte-identical history; contrast the reference's mutable-upsert
    DAO, src/dao/cardano_block_dao.py:93-148, which keeps only the
    latest row)."""
    order = [F.col(ts_col).asc()] + (
        [F.col(seq_col).asc()] if seq_col else [F.col(attr_cols[0]).asc()]
    )
    w = Window.partitionBy(*key_cols).orderBy(*order)
    changed = F.lit(False)
    for a in attr_cols:
        prev = F.lag(F.col(a)).over(w)
        # null-safe inequality: first row handled by lag(ts) IS NULL
        changed = changed | ~F.col(a).eqNullSafe(prev)
    is_new = F.when(F.lag(F.col(ts_col)).over(w).isNull(), F.lit(True)).otherwise(
        changed
    )
    episodes = (
        changes.withColumn("_new", is_new.cast("int"))
        .withColumn(
            "_ep",
            F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy(*key_cols, "_ep", *attr_cols)
        .agg(F.min(ts_col).alias("valid_from"))
    )
    we = Window.partitionBy(*key_cols).orderBy(F.col("_ep").asc())
    return episodes.select(
        *key_cols,
        *attr_cols,
        "valid_from",
        F.lead("valid_from").over(we).alias("valid_to"),
        F.lead("valid_from").over(we).isNull().alias("is_current"),
        F.col("_ep").cast("long").alias("version"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Audit diff between two table snapshots: one row per key that
    was ADDED, REMOVED, or CHANGED (any compared column differs,
    null-safe), with both sides' values — the load-verification /
    CDC-reconstruction step a warehouse runs between ingests (the
    reference's upserts overwrite in place and keep no way to answer
    "what changed since the last load"; this derives it from
    snapshots).

    Scale shape: ONE full-outer shuffle join on the key (both sides
    hash-partitioned; with pre-bucketed tables — sources/bucketed.py
    — even that exchange disappears). The change classification is a
    map-side expression; unchanged keys are filtered before any
    further processing, so downstream sees only the delta."""
    # dedicated presence markers: compared columns can be legitimately
    # NULL, so "side absent" must not be inferred from their nullness
    o = old.select(
        *keys,
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        *keys,
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    joined = o.join(n, list(keys), "full_outer")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change_type = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .drop("_in_old", "_in_new")
    )


def delta_join(
    a: DataFrame,
    delta_a: DataFrame,
    b: DataFrame,
    delta_b: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """Incremental view maintenance for an inner equi-join: the DELTA
    of ``(A ∪ ΔA) ⋈ (B ∪ ΔB)`` relative to ``A ⋈ B``, computed
    WITHOUT re-joining the big bases:

        Δ(A ⋈ B) = (ΔA ⋈ B) ∪ (A ⋈ ΔB) ∪ (ΔA ⋈ ΔB)

    — the classic insert-only IVM identity. A materialized join view
    over 100 TB bases refreshes by joining only the arrival batches
    against the (indexed/bucketed) bases: per-batch cost scales with
    |Δ| x fan-out, never |A| x |B|. Deletes/updates compose with
    :func:`snapshot_diff` (feed the 'removed' side negated) or the
    upsert sinks.

    Scale shape: each term shuffles the SMALL delta against one base
    (Catalyst broadcasts the delta side below the threshold — the
    plan you want; the bases are never joined to each other). Bases
    pre-bucketed on the key (sources/bucketed.py) drop even the base
    side's exchange. The three terms are disjoint by construction
    (new-old / old-new / new-new), so the union needs no dedup."""
    terms = [
        delta_a.join(b, list(on)),
        a.join(delta_b, list(on)),
        delta_a.join(delta_b, list(on)),
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out.unionByName(t)
    return out


def asof_join_next(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    order: Sequence[str],
    carry: Sequence[str],
) -> DataFrame:
    """Forward as-of join: for each ``left`` row, the EARLIEST
    ``right`` row with the same keys strictly after it in ``order``
    (the "time-to-next-event" direction — label lookahead, next-touch
    attribution; :func:`asof_join_prev` mirrored). Same scale
    rewrite: tagged union, ONE key shuffle, a single window pass with
    a 1 FOLLOWING .. UNBOUNDED frame; an exactly-tied right row
    counts as LATER (sorts after left at equal order values), so the
    match is strictly-after and tie-safe.

    Carried columns return as ``next_<name>`` (NULL when no later
    right row exists)."""
    from pyspark.sql import Window as W

    lt = left.withColumn("_side", F.lit(0))
    rt = right.select(
        *on, *order, *[F.col(c).alias(f"_carry_{c}") for c in carry]
    ).withColumn("_side", F.lit(1))
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        W.partitionBy(*on)
        .orderBy(*[F.col(c) for c in order], F.col("_side"))
        .rowsBetween(1, W.unboundedFollowing)
    )
    filled = unioned.select(
        "*",
        *[
            F.first(F.col(f"_carry_{c}"), ignorenulls=True)
            .over(w)
            .alias(f"next_{c}")
            for c in carry
        ],
    )
    return filled.filter(F.col("_side") == 0).drop(
        "_side", *[f"_carry_{c}" for c in carry]
    )


def triangle_counts(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Per-vertex triangle participation counts over an undirected
    graph, via DEGREE-ORIENTED wedge counting — the node-iterator++
    algorithm every distributed triangle counter uses (e.g. Suri &
    Vassilvitskii, WWW'11 "Counting Triangles and the Curse of the
    Last Reducer" — the title is the scale argument).

    Why orientation matters at 100 TB: the naive wedge join explodes
    on high-degree vertices (a degree-d hub contributes d^2 wedges).
    Orienting every edge from the (degree, id)-SMALLER endpoint to
    the larger one makes the out-degree of every vertex O(sqrt(m))
    on any graph (arboricity bound), so the wedge join's fan-out is
    bounded REGARDLESS of hub degree — the same reason q89 salts its
    heavy keys, solved here structurally instead of statistically.

    Plan: normalize + distinct the undirected edge set (one exchange)
    -> per-vertex degrees (map-side partials) -> orient by
    (degree, id) -> wedge self-join on the shared center vertex ->
    close each wedge with a semi-join back to the oriented edge set
    -> explode each triangle's 3 vertices -> count per vertex. All
    joins are equi-joins on vertex keys; nothing is all-pairs. The
    oriented frame is SLIM (two ids per edge) and feeds THREE plan
    branches (both wedge sides + the closer), so it is
    ``localCheckpoint``-ed once — the q22/q109 multi-consumer rule;
    its footprint is the edge list itself, the operator's working
    set by definition.

    Ties and determinism: (degree, id) is a total order (ids are
    unique), so the orientation — and therefore the per-vertex
    counts — are deterministic and oracle-restatable.

    Returns (vertex, n_triangles) for vertices in >= 1 triangle.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
            .alias("o")
        )
        .select("o.a", "o.b")
        .localCheckpoint(eager=False)
    )
    w1 = oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
    w2 = oriented.select(F.col("a").alias("x"), F.col("b").alias("z"))
    wedges = w1.join(w2, "x").filter(F.col("y") < F.col("z"))
    # a wedge (x->y, x->z) closes iff y-z is an oriented edge in
    # EITHER direction (orientation was by degree, not by id)
    closer = oriented.select(
        F.least(F.col("a"), F.col("b")).alias("y"),
        F.greatest(F.col("a"), F.col("b")).alias("z"),
    )
    tris = wedges.join(closer, ["y", "z"], "left_semi")
    verts = (
        tris.select(F.col("x").alias("vertex"))
        .unionAll(tris.select(F.col("y").alias("vertex")))
        .unionAll(tris.select(F.col("z").alias("vertex")))
    )
    return verts.groupBy("vertex").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def key_skew_report(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Key-distribution diagnostic — the measurement behind every
    skew decision this engine makes (salting in q89, AQE skew-join
    splitting, broadcast-vs-shuffle choices): for each candidate
    join/groupBy key, ONE row of the statistics a planner actually
    reads. Columns: key_col, n_rows, n_keys, top_key (most frequent,
    ties to the lowest key string), max_n, top_share (max_n/n_rows),
    p50_n / p99_n (exact interpolated percentiles of the per-key
    count distribution — the q63 cross-engine-exact percentile).

    Scale shape, per key: one hash exchange for the per-key counts
    (map-side partial agg), then a 1-row global reduce — the
    percentile and the min_by(top) ride the same reduce, no per-key
    sort, no collect. Keys are reported from separate aggregates
    unioned together: distinct keys genuinely need distinct
    exchanges, and at 100 TB each report is exactly the shuffle its
    groupBy would cost (run it BEFORE committing to that groupBy).
    NULL keys group under the '<NULL>' label (both engines count
    them the same way)."""
    reports = []
    for k in keys:
        per = df.groupBy(
            F.coalesce(F.col(k).cast("string"), F.lit("<NULL>")).alias("_k")
        ).agg(F.count(F.lit(1)).alias("_n"))
        rep = per.agg(
            F.sum("_n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.min_by(
                "_k", F.struct((-F.col("_n")).alias("a"), F.col("_k").alias("b"))
            ).alias("top_key"),
            F.max("_n").cast("long").alias("max_n"),
            F.percentile("_n", 0.5).alias("p50_n"),
            F.percentile("_n", 0.99).alias("p99_n"),
        ).select(
            F.lit(k).alias("key_col"),
            "n_rows",
            "n_keys",
            "top_key",
            "max_n",
            (F.col("max_n").cast("double") / F.col("n_rows").cast("double")).alias(
                "top_share"
            ),
            "p50_n",
            "p99_n",
        )
        reports.append(rep)
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out
