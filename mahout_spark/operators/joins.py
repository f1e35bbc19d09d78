"""Temporal / inequality join operators (X143/X144).

Spark has no native as-of join, and a naive inequality join plans a
BroadcastNestedLoopJoin (per-row scan of the build side — quadratic at
corpus scale). Both operators here re-express the semantics as
EQUI-joins plus narrow post-processing, so Catalyst plans ordinary
hash exchanges:

* ``asof_join`` — the union-and-window form: one exchange on the key,
  one ordered window, no range explosion (kdb/pandas ``merge_asof``
  semantics, the standard trades⋈quotes primitive);
* ``range_join`` — fixed-width binning: each interval explodes to the
  bins it covers, the probe side computes its value's bin, the join is
  bin-equality plus a residual band predicate (the classic range-join
  optimization Databricks exposes as a hint).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
    direction: str = "backward",
    tolerance_s: float | None = None,
    right_cols: list[str] | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """For every left row, attach the single closest right row per
    ``on`` key: the latest right row with ``right.ts <= left.ts``
    (``direction='backward'``, ties match) or the earliest with
    ``right.ts >= left.ts`` (``'forward'``). Unmatched left rows keep
    NULLs (left-join semantics). ``tolerance_s`` voids matches farther
    than that many seconds away (exact integer-microsecond arithmetic).

    Returns every left column plus ``<ts_col><suffix>`` (the matched
    right timestamp) and each requested right column as
    ``<name><suffix>``.

    Plan: right rows project to (key, ts, payload), left rows union in
    with NULL payload, ONE exchange on the key, one ordered window
    (``last(payload, ignorenulls)`` running over ts order with right
    rows sorting before left at equal ts), then a filter back to left
    rows — no per-row probe, no range explosion; cost is the same
    key-partitioned sort a groupBy would pay. NULL-ts rows never match
    (excluded from the right side; left side keeps them unmatched).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be 'backward' or 'forward': {direction!r}")
    if tolerance_s is not None and tolerance_s < 0:
        raise ValueError(f"tolerance_s must be >= 0: {tolerance_s}")
    payload = right_cols if right_cols is not None else [
        c for c in right.columns if c not in (on, ts_col)
    ]
    missing = sorted(set(payload) - set(right.columns))
    if missing:
        raise ValueError(f"right_cols not in right: {missing}")
    rts = ts_col + suffix
    clash = sorted({rts, *(c + suffix for c in payload)} & set(left.columns))
    if clash:
        raise ValueError(f"suffixed right columns collide with left: {clash}")
    r = (
        right.filter(F.col(ts_col).isNotNull())
        .select(
            F.col(on),
            F.col(ts_col).alias("_ats"),
            F.lit(0).alias("_side"),
            F.col(ts_col).alias(rts),
            *[F.col(c).alias(c + suffix) for c in payload],
            *[F.lit(None).cast(left.schema[c].dataType).alias("_l_" + c)
              for c in left.columns],
        )
    )
    l = left.select(
        F.col(on),
        F.col(ts_col).alias("_ats"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(right.schema[ts_col].dataType).alias(rts),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c + suffix)
          for c in payload],
        *[F.col(c).alias("_l_" + c) for c in left.columns],
    )
    asc = direction == "backward"
    order = [F.col("_ats").asc() if asc else F.col("_ats").desc(),
             F.col("_side").asc()]
    w = (
        Window.partitionBy(on).orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = [F.last(rts, ignorenulls=True).over(w).alias(rts)] + [
        F.last(c + suffix, ignorenulls=True).over(w).alias(c + suffix)
        for c in payload
    ]
    out = (
        r.unionByName(l)
        .select("_side", "_ats", *matched,
                *[F.col("_l_" + c).alias(c) for c in left.columns])
        .filter(F.col("_side") == 1)
    )
    # a NULL-ts left row must never match (under desc ordering it would
    # otherwise sort last and see every right row)
    ok = F.col("_ats").isNotNull()
    if tolerance_s is not None:
        # timestampdiff, not unix_micros: it accepts TIMESTAMP_NTZ (the
        # parquet default here) and stays exact integer microseconds
        gap = F.abs(F.expr(f"timestampdiff(MICROSECOND, {rts}, _ats)"))
        ok = ok & (gap <= F.lit(int(round(tolerance_s * 1_000_000))))
    return out.select(
        *left.columns,
        *[F.when(ok, F.col(c)).alias(c)
          for c in [rts] + [p + suffix for p in payload]],
    )


def range_join(
    left: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bin_width: float = 1.0,
) -> DataFrame:
    """Inner-join every left row to every interval row with
    ``lo <= value <= hi`` (inclusive band — the SQL BETWEEN contract),
    WITHOUT the BroadcastNestedLoopJoin a naive inequality join plans:
    each interval explodes to the fixed-width bins it covers, the left
    side computes its value's single bin, and the join is bin EQUALITY
    plus the residual band predicate. A value lies in exactly one bin,
    so no post-join dedup is needed; overlapping intervals multi-match
    naturally.

    ``bin_width`` trades explosion against selectivity: intervals cost
    ``(hi-lo)/bin_width + 1`` exploded rows, probe rows cost one bin
    each — pick a width near the median interval span. NULL values /
    bounds never match (SQL comparison semantics, enforced before the
    explode)."""
    if not (bin_width > 0) or not math.isfinite(bin_width):
        raise ValueError(f"bin_width must be a positive number: {bin_width}")
    for c in (lo_col, hi_col):
        if c not in intervals.columns:
            raise ValueError(f"intervals is missing column {c!r}")
    w = float(bin_width)
    iv = intervals.filter(
        F.col(lo_col).isNotNull() & F.col(hi_col).isNotNull()
        & (F.col(lo_col) <= F.col(hi_col))
    )
    binned_iv = iv.withColumn(
        "_bin",
        F.explode(F.sequence(
            F.floor(F.col(lo_col) / w).cast("long"),
            F.floor(F.col(hi_col) / w).cast("long"),
        )),
    )
    probe = left.filter(F.col(value_col).isNotNull()).withColumn(
        "_bin", F.floor(F.col(value_col) / w).cast("long"))
    return (
        probe.join(binned_iv, "_bin")
        .filter(
            (F.col(value_col) >= F.col(lo_col))
            & (F.col(value_col) <= F.col(hi_col)))
        .drop("_bin")
    )
