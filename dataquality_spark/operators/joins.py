"""Temporal join operators Spark lacks as built-ins: as-of join and
event sessionization.

The reference emits only equi/outer joins (SURVEY §2.B B13-B15); these
are engine extensions a training-data pipeline needs (align each event
with the latest prior state; group click streams into sessions).

Scale design: both operators are ONE shuffle on the key column followed
by a per-key window sort — the classic distributed formulation. The
as-of join uses the union-and-last-ignorenulls trick instead of a range
join, so there is no quadratic candidate set and no python on the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, on: str,
              left_ts: str, right_ts: str,
              value_cols: list[str],
              suffix: str = "_asof",
              tie_break: list[str] | None = None) -> DataFrame:
    """For each left row, attach the latest right row with
    right_ts <= left_ts for the same key (backward as-of join).

    Implementation: union both sides tagged with a side marker, sort per
    key by (ts, side) with right rows first at equal timestamps, and
    carry right values forward with last(ignorenulls) — one shuffle, one
    sort, linear state.

    Ties among right rows at the same (key, ts) are resolved BEFORE the
    merge: only the row ranking first by ``tie_break`` DESC (default:
    ``value_cols``) survives. An explicit pre-reduction rather than
    whatever a window/engine happens to keep — SQL ASOF JOIN leaves the
    surviving row engine-defined at equal timestamps, so any oracle must
    apply the same reduction to compare exactly.
    """
    tb = tie_break or value_cols
    w_tie = Window.partitionBy(on, right_ts).orderBy(
        *[F.desc(c) for c in tb])
    right = (right.withColumn("_rn", F.row_number().over(w_tie))
             .filter(F.col("_rn") == 1).drop("_rn"))
    lcols = left.columns
    l = left.select(
        *lcols,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[v].dataType).alias(f"_rv_{v}")
          for v in value_cols])
    r = right.select(
        *[(F.col(on) if c == on
           else F.lit(None).cast(left.schema[c].dataType)).alias(c)
          for c in lcols],
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(v).alias(f"_rv_{v}") for v in value_cols])
    u = l.unionByName(r)
    w = (Window.partitionBy(on)
         .orderBy("_ts", "_side", *[f"_rv_{v}" for v in value_cols])
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = u
    for v in value_cols:
        out = out.withColumn(
            f"{v}{suffix}", F.last(f"_rv_{v}", ignorenulls=True).over(w))
    return (out.filter(F.col("_side") == 1)
            .drop("_ts", "_side", *[f"_rv_{v}" for v in value_cols]))


def sessionize(events: DataFrame, key: str, ts: str,
               gap_minutes: float = 30.0) -> DataFrame:
    """Assign gap-based session indexes: a new session starts when the
    time since the key's previous event exceeds the gap.

    Output adds `session_idx` (0-based per key, by time). One shuffle on
    the key; the cumulative-sum window is linear per key partition.
    """
    w_order = Window.partitionBy(key).orderBy(ts)
    gap_us = int(gap_minutes * 60.0 * 1_000_000)
    # exact integer microseconds (TIMESTAMP_NTZ can't cast to double;
    # cast to ltz is instant-preserving under the session's UTC tz)
    ts_us = F.unix_micros(F.col(ts).cast("timestamp"))
    prev_us = F.lag(ts_us).over(w_order)
    new_sess = F.when(
        prev_us.isNull() | (ts_us - prev_us > gap_us), 1).otherwise(0)
    return events.withColumn(
        "session_idx",
        F.sum(new_sess).over(
            w_order.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow)) - 1)
