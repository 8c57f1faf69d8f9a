"""Row deduplication operators (SURVEY.md §2.2 P7–P9).

The reference dedups with pandas positional semantics: keep the LAST
occurrence of a duplicated timestamp after splicing chunked/ticker-change
fetches (v2.py:1658-1663, v3/utils.py:694-697, utils.py:684-690 subset
keys) and keep-FIRST before risk calcs (Organizers.py:126). Positional
"last" depends on arrival order, which a distributed engine must make
explicit (SURVEY.md §4 custom item 3): callers pass ``order_cols``; when
the source genuinely has no ordering column, ``with_arrival_seq`` stamps
one before shuffling.

Spark shape: a single `row_number()` window per (keys) — one shuffle on the
dedup keys, the same partitioning downstream joins/aggs want.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_arrival_seq(df: DataFrame, seq_col: str = "_seq") -> DataFrame:
    """Stamp a monotonically increasing id capturing current arrival order.

    Only sound BEFORE any shuffle — stamp at scan time, like the reference's
    implicit row order on CSV parse.
    """
    return df.withColumn(seq_col, F.monotonically_increasing_id())


def dedup_full_row(df: DataFrame) -> DataFrame:
    """P7 — drop fully-duplicated rows (reference: SQLHelpers.py:379, :910)."""
    return df.dropDuplicates()


def _ranked(df: DataFrame, key_cols: list[str], order_cols: list[str], asc: bool) -> DataFrame:
    order = [F.col(c).asc() if asc else F.col(c).desc() for c in order_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_keep_last(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """P8 — among rows sharing ``key_cols``, keep the one with the greatest
    ``order_cols`` (reference keep='last' on the spliced frame,
    v3/utils.py:694-697; subset-key variant utils.py:684-690)."""
    return _ranked(df, key_cols, order_cols, asc=False)


def dedup_keep_first(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """P9 — keep the smallest ``order_cols`` row per key
    (reference: Organizers.py:126 `~duplicated(keep='first')`)."""
    return _ranked(df, key_cols, order_cols, asc=True)


def dedup_keep_first_and_last(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    payload_cols: list[str],
    tag_col: str = "keep",
) -> DataFrame:
    """P8 + P9 in ONE pass (r15): both the keep-last and the keep-first
    row per key, tagged 'last' / 'first' in ``tag_col``.

    The separate `dedup_keep_last` ∪ `dedup_keep_first` formulation
    scans and shuffles the table TWICE (each branch is its own window —
    WindowGroupLimit prunes each shuffle to ~1 row per group per map
    task, but the scans and exchanges still both happen). Here one
    groupBy computes `max_by` AND `min_by` of the payload over the same
    ordering struct — partial (map-side) aggregation collapses each
    group to one row per task, the SAME reduction WindowGroupLimit
    performed — then the two tagged rows explode out of the tiny
    aggregated result. One scan, one exchange, identical rows: with a
    unique ordering struct (callers append a tie-breaker id, as the
    row_number formulation already required for determinism) max_by ≡
    the rn=1 row of the DESC window and min_by ≡ ASC."""
    ordk = F.struct(*[F.col(c) for c in order_cols])
    pay = F.struct(*[F.col(c) for c in payload_cols])
    agg = df.groupBy(*key_cols).agg(
        F.max_by(pay, ordk).alias("_last"), F.min_by(pay, ordk).alias("_first")
    )
    legs = F.explode(
        F.array(
            F.struct(F.lit("last").alias(tag_col), F.col("_last").alias("_p")),
            F.struct(F.lit("first").alias(tag_col), F.col("_first").alias("_p")),
        )
    )
    return agg.select(legs.alias("_leg"), *key_cols).select(
        F.col(f"_leg.{tag_col}").alias(tag_col),
        *key_cols,
        *[F.col(f"_leg._p.{c}").alias(c) for c in payload_cols],
    )
