"""Ordered/analytic window primitives (SURVEY.md §2.5).

Every primitive here uses a frame ending at ``currentRow``
(temporal-leakage discipline), so all of them are point-in-time safe.
Columns that read the future must carry ``LEAKY_PREFIX``; the leakage
audit (tests/test_invariants.py) asserts none reaches the as-of
feature surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from proxyfeatureextraction_spark import schema as S
from proxyfeatureextraction_spark.operators.ordering import ORDER_COLS, conv_window

# prefix reserved for columns that read past currentRow (audited by tests)
LEAKY_PREFIX = "lead_"


def lag_cols(df: DataFrame, cols: dict[str, int], order_cols=ORDER_COLS) -> DataFrame:
    """``lag_<col>_<n>`` — reference analog ``np.diff``/``zip(t, t[1:])``
    (``slt_extractor.py:186``, ``hayes_usenix2019_features.py:76``)."""
    w = conv_window(order_cols)
    for col, n in cols.items():
        df = df.withColumn(f"lag_{col}_{n}", F.lag(col, n).over(w))
    return df


def backfill(df: DataFrame, col: str, out: str | None = None, order_cols=ORDER_COLS) -> DataFrame:
    """Forward-fill (backward-looking): last non-null value at or before
    the current row. Point-in-time safe (frame ≤ currentRow)."""
    w = conv_window(order_cols).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(out or f"{col}_ffill", F.last(col, ignorenulls=True).over(w))


def prefix_sum(df: DataFrame, col: str, out: str | None = None, order_cols=ORDER_COLS) -> DataFrame:
    """Running (cumulative) sum — ``np.cumsum`` analog (``slt:91``)."""
    w = conv_window(order_cols).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(out or f"cum_{col}", F.sum(col).over(w))


def chunk_id(rn_col: str = "rn", size: int = 20) -> Column:
    """0-based id of the consecutive chunk-of-`size` a row falls in
    (burst-concentration chunking, ``hayes:174``)."""
    return F.floor((F.col(rn_col) - 1) / size).cast("int")


def time_bucket(ts_col: str, width: float) -> Column:
    """Tumbling bucket start via the reference's exact float formula
    ``floor(ts * (1/width)) / (1/width)`` (``corr_extractor.py:161-163``)
    — kept instead of ``window()`` for bit-level parity at bucket
    edges. NOT equivalent to ``floor(ts/width)*width``: the reciprocal
    is rounded once and reused, which flips bucket assignment on edge
    values (e.g. width=0.1, ts=4.3 → floor(4.3·10)=43 but
    floor(4.3/0.1)=42); the oracle (tests/oracle/ref_corr.py) pins the
    factor form, so do not "simplify" this."""
    factor = 1.0 / width
    return F.floor(F.col(ts_col) * factor) / F.lit(factor)


def sessionize(
    df: DataFrame,
    gap_seconds: float = 300.0,
    ts_col: str = S.TS_SEC,
    out: str = "session_id",
    order_cols=ORDER_COLS,
) -> DataFrame:
    """Gap-based sessionization (W8 generalization of the reference's
    gap-between-starts feature, ``host_feature_helpers.py:124-132``).

    ``session_id`` = running count of gaps > ``gap_seconds`` — 0-based,
    point-in-time safe (only looks backward).
    """
    w = conv_window(order_cols)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.col(ts_col) - F.lag(ts_col, 1).over(w)
    is_new = F.when(gap > gap_seconds, 1).otherwise(0)
    return df.withColumn(out, F.sum(is_new).over(wcum))
