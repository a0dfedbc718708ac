"""Filter operators F1-F8 (SURVEY §2.4).

All are plain Column predicates — declared on the DataFrame so Catalyst
pushes them into the scan (verify via ``PushedFilters`` in explain).
The value over the reference is that the *same* predicate text works on
any source (parquet, JDBC, DSv2) instead of being hand-embedded in SOQL
(config.py:99-102) or SQL strings (sync-db2-ago.py:552-557).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def static_source_filter(
    df: DataFrame,
    record_type_id: str = "RecordTypeId",
    record_type: str = "Case_Record_Type__c",
    excluded_id: str = "012G00000014BhVIAU",
    excluded_types: tuple[str, ...] = ("", "Agency Receivables", "Revenue Escalation"),
) -> DataFrame:
    """F1: the public-data rule (config.py:99-102)."""
    return df.filter(
        (F.col(record_type_id) != excluded_id)
        & (F.col(record_type_id) != "")
        & ~F.col(record_type).isin(*excluded_types)
    )


def time_range(df: DataFrame, col: Column | str, start, end) -> DataFrame:
    """F2: half-open window ``start <= c < end`` (sync-db2.py:52-55)."""
    c = F.col(col) if isinstance(col, str) else col
    return df.filter((c >= F.lit(start)) & (c < F.lit(end)))


def watermark_filter(
    df: DataFrame, col: Column | str, watermark, inclusive: bool = False
) -> DataFrame:
    """F3 (strict ``>``, sync-db2.py:164-167) vs F4 (inclusive ``>=``,
    sync-db2-ago.py:552-557).  Both exposed because they have different
    replay behavior: ``>=`` re-processes the boundary row and is safe
    only into an idempotent (delete-then-add / MERGE) sink — SURVEY
    §7.5.5."""
    c = F.col(col) if isinstance(col, str) else col
    return df.filter(c >= F.lit(watermark) if inclusive else c > F.lit(watermark))


def key_in(df: DataFrame, col: str, keys: list) -> DataFrame:
    """F7/F8: disjunctive key predicate / IN-list
    (sync-db2-ago.py:632-638; delete-removed-tickets.py:153-169).  For
    key sets too big for a literal IN-list, use a broadcast semi-join
    (operators/joins.py) instead."""
    return df.filter(F.col(col).isin(keys))
