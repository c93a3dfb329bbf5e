"""Scalar column expressions (SURVEY.md §2.9 C1-C12).

Everything here is a built-in-function composition — JVM-side,
whole-stage-codegen'd; no Python UDFs. The reference implemented
these as row-at-a-time Python in driver loops; here they are columnar.

Cross-engine determinism rule (SURVEY §7 "hard parts"): any value that
feeds the correctness oracle must be bit-identical between Spark and
DuckDB. That means
- money math in DecimalType (exact, order-independent sums), never
  summing raw doubles;
- surrogate keys as content hashes (sha2), never ``uuid4()`` — Spark
  task retries would mint fresh uuids per attempt and break the
  insert-if-absent idempotency the reference relies on
  (reference: src/models/database_transfer_objects/
  cardano_transactions_utxo_dto.py:61-93 mints uuid4 in the driver);
- averages as ``CAST(exact_decimal AS DOUBLE) / exact_count`` — one
  IEEE division of exact inputs is deterministic everywhere.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SAFE_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

#: Spark's reserved keywords under ``spark.sql.ansi.enforceReservedKeywords``
#: (``SELECT keyword FROM sql_keywords() WHERE reserved``, Spark 4.1)
_RESERVED = frozenset(
    """
    ALL AND ANY AS AUTHORIZATION BOTH CALL CASE CAST CHECK COLLATE
    COLLATION COLUMN CONSTRAINT CREATE CROSS CURRENT_DATE CURRENT_TIME
    CURRENT_TIMESTAMP CURRENT_USER DISTINCT ELSE END ESCAPE EXCEPT
    EXECUTE FALSE FETCH FILTER FOR FOREIGN FROM FULL GRANT GROUP HAVING
    IN INNER INTERSECT INTO IS JOIN LATERAL LEADING LEFT NATURAL NOT
    NULL OFFSET ON ONLY OR ORDER OUTER OVERLAPS PRIMARY RECURSIVE
    REFERENCES RIGHT SELECT SESSION_USER SOME SQL TABLE THEN TIME TO
    TRAILING UNION UNIQUE UNKNOWN USER USING WHEN WHERE WITH WITHIN
    """.split()
)


def sql_ident(name: str) -> str:
    """A caller-supplied column NAME made safe for embedding in the
    SQL-text fast paths (selectExpr / F.expr / OVER strings).

    Plain ``[A-Za-z_][A-Za-z0-9_]*`` names that are not reserved
    keywords pass through byte-unchanged (so every existing call site
    generates identical SQL and identical plans); anything else —
    spaces, hyphens, quotes, or a reserved keyword such as ``order``
    in any case — is backtick-quoted with interior backticks doubled,
    restoring the names the old ``F.col`` construction accepted (r11
    ADVICE #1). Parameters documented as SQL TEXT (expressions,
    points, shingle builders) stay raw by contract and must NOT be
    routed through this."""
    if _SAFE_IDENT.match(name) and name.upper() not in _RESERVED:
        return name
    return "`" + name.replace("`", "``") + "`"


def dec(col: Column | str, precision: int = 18, scale: int = 2) -> Column:
    """Exact money cast (C8). Mirrors ``Numeric(38,0)``-style columns in
    the reference (database_management/cardano/cardano_tables.py:112)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(T.DecimalType(precision, scale))


def dec6(col: Column) -> Column:
    """Rate-like factor (discount/tax) as DECIMAL(9,6)."""
    return col.cast(T.DecimalType(9, 6))


def exact_double(col: Column) -> Column:
    """Decimal -> double via an exact decimal string.

    Direct decimal->double conversion is not correctly rounded in
    either engine once the value needs >15 significant digits (JVM
    BigDecimal.doubleValue and DuckDB's int128 path can each be 1 ulp
    off, in different directions). String parsing IS correctly rounded
    everywhere, so ``CAST(CAST(x AS STRING) AS DOUBLE)`` produces
    bit-identical doubles on both engines. Oracle twin:
    ``CAST(CAST(x AS VARCHAR) AS DOUBLE)``.
    """
    return col.cast("string").cast("double")


def surrogate_id(*cols: Column | str) -> Column:
    """Deterministic surrogate key: sha2 of '|'-joined column values.

    Replaces the reference's ``uuid.uuid4()`` child-row ids
    (cardano_transactions_utxo_dto.py:61,64,90,93) with a
    content-addressed id that is stable under task retries and re-runs
    — required for the idempotent merge sink (SURVEY §2.7 D1).
    """
    parts = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.sha2(F.concat_ws("|", *[p.cast("string") for p in parts]), 256)


def github_handle(url: Column | str) -> Column:
    """URL -> github handle (C11; reference
    ideascale/get_github_profile.py:4-20 did this with str.split)."""
    c = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(c, r"github\.com/([^/]+)", 1)


def company_from_url(url: Column | str) -> Column:
    """URL -> bare company/site name (C10; reference
    ideascale/extract_company_from_company_link.py:3-89 used prefix/
    suffix strip tables; a single regexp does the same)."""
    c = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(c, r"^(?:https?://)?(?:www\.)?([^/.]+)", 1)
