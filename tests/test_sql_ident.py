"""The SQL-text fast paths must accept the column names the old
``F.col`` construction accepted (r11 ADVICE #1): caller-supplied
NAMES are routed through :func:`sql_ident`, which passes plain
identifiers through byte-unchanged (identical SQL for every existing
call site) and backtick-quotes anything else."""

from __future__ import annotations

from pyspark.sql import functions as F

from cardano_spark.functions.scalars import sql_ident


def test_sql_ident_passthrough_for_plain_names():
    for n in ("l_orderkey", "_id", "A9", "vec_id"):
        assert sql_ident(n) == n


def test_sql_ident_quotes_hostile_names():
    assert sql_ident("my col") == "`my col`"
    assert sql_ident("a-b") == "`a-b`"
    assert sql_ident("x`y") == "`x``y`"


def test_with_running_accepts_hyphenated_names(spark):
    from cardano_spark.operators.relational import with_running

    df = spark.range(4).selectExpr(
        "id % 2 AS `grp-key`", "id AS `ord col`", "CAST(id AS LONG) AS v"
    )
    out = with_running(
        df, ["grp-key"], ["ord col"], "v", "run total"
    )
    rows = {
        (r["grp-key"], r["ord col"]): r["run total"] for r in out.collect()
    }
    assert rows[(0, 0)] == 0 and rows[(0, 2)] == 2
    assert rows[(1, 1)] == 1 and rows[(1, 3)] == 4


def test_semantic_dedup_accepts_spaced_names(spark):
    from cardano_spark.operators.similarity import semantic_dedup

    e = spark.range(6).selectExpr(
        "id AS `vec id`",
        "array(CAST(id % 2 AS DOUBLE) + 1.0D, 1.0D) AS `the vec`",
    )
    out = semantic_dedup(e, "vec id", "the vec", n_centroids=2, threshold=0.9)
    assert out.count() == 6
    assert set(out.columns) == {"vec_id", "cluster_id", "is_dup"}


def test_sql_ident_quotes_reserved_keywords():
    assert sql_ident("order") == "`order`"
    assert sql_ident("From") == "`From`"
    assert sql_ident("orders") == "orders"


def test_with_running_accepts_a_reserved_keyword_name(spark):
    """A column named ``order`` parses under
    ``spark.sql.ansi.enforceReservedKeywords=true``."""
    from cardano_spark.operators.relational import with_running

    confs = ("spark.sql.ansi.enabled", "spark.sql.ansi.enforceReservedKeywords")
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k in confs:
            spark.conf.set(k, "true")
        df = spark.range(4).selectExpr(
            "id % 2 AS grp", "id AS `order`", "CAST(id AS LONG) AS v"
        )
        out = with_running(df, ["grp"], ["order"], "v", "from")
        rows = {r["order"]: r["from"] for r in out.collect()}
        assert rows == {0: 0, 1: 1, 2: 2, 3: 4}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
