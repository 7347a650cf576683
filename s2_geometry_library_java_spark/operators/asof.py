"""As-of join and hypertable-style time rollup — the two time-series
operators Spark's built-in surface lacks, composed from union+window and
grouping sets so Catalyst still owns the physical plan.

As-of join (backward): for each left row, the single right row with the
greatest ``right_ts <= left_ts`` within the same key.  The naive
formulation is a range join (quadratic explode per key); the distributed
shape used here is the tagged-union sort-fill:

    union(left tagged, right tagged)
      -> ONE shuffle on the key
      -> per-key window ordered (ts, right-before-left)
      -> last non-null right payload over the preceding frame
      -> keep left rows.

Cost is one Exchange + one in-partition sort — the same plan a dedicated
MERGE_ASOF physical operator would produce, with no row amplification.
DuckDB's native ``ASOF JOIN`` states the oracle independently.

Time rollup: multi-resolution bucket aggregation (minute/hour/day) in one
pass via GROUPING SETS — partial aggregation map-side, one shuffle, one
output row per (resolution, bucket), the TimescaleDB-style hypertable
rollup expressed declaratively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload_cols: list[str] | None = None,
    prefix: str = "asof_",
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join: append to every left row the payload of the nearest
    right row on one side of it with the same key (null payload when no
    such row exists).

    ``direction="backward"`` (default) matches the latest right row with
    ``right_ts <= left_ts``; ``"forward"`` matches the earliest right row
    with ``right_ts >= left_ts`` (implemented as the backward fill over
    the reversed ordering — same single shuffle).  ``tolerance_seconds``
    additionally nulls out matches farther than the tolerance from the
    left timestamp (pandas merge_asof semantics): the match itself is
    still nearest-first, the tolerance only filters it (requires
    timestamp-typed ts columns).

    CONTRACT: right must be unique per (key, right_ts) — pre-aggregate
    ties deterministically upstream, or the matched payload depends on
    sort arrival order.  A hot key is one window partition (linear scan,
    no blowup); salt upstream if one key carries the corpus.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if payload_cols is None:
        payload_cols = [c for c in right.columns if c not in (key_col, right_ts)]
    rstruct = F.struct(
        F.col(right_ts).alias("__ts"), *(F.col(c).alias(c) for c in payload_cols)
    )
    r2 = right.select(
        F.col(key_col),
        F.col(right_ts).alias("__ord_ts"),
        F.lit(0).alias("__is_left"),
        rstruct.alias("__r"),
        *(F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in left.columns),
    )
    l2 = left.select(
        F.col(key_col),
        F.col(left_ts).alias("__ord_ts"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(r2.schema["__r"].dataType).alias("__r"),
        *(F.col(c).alias(f"__l_{c}") for c in left.columns),
    )
    # Right rows sort BEFORE left rows at equal ts, so an equal-timestamp
    # right row is visible to the left row (ASOF >= / <= inclusive
    # semantics).  Forward direction = the same preceding-fill over the
    # time-reversed ordering.
    ord_ts = F.col("__ord_ts").asc() if direction == "backward" else F.col("__ord_ts").desc()
    w = (
        Window.partitionBy(key_col)
        .orderBy(ord_ts, F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = r2.unionByName(l2).withColumn("__m", F.last("__r", ignorenulls=True).over(w))
    if tolerance_seconds is not None:
        gap = F.abs(
            F.unix_micros(F.col("__ord_ts").cast("timestamp"))
            - F.unix_micros(F.col("__m.__ts").cast("timestamp"))
        )
        filled = filled.withColumn(
            "__m",
            F.when(gap <= F.lit(int(tolerance_seconds * 1_000_000)), F.col("__m")),
        )
    out_cols = [F.col(f"__l_{c}").alias(c) for c in left.columns]
    out_cols.append(F.col("__m.__ts").alias(f"{prefix}{right_ts}"))
    out_cols.extend(F.col(f"__m.{c}").alias(f"{prefix}{c}") for c in payload_cols)
    return filled.filter(F.col("__is_left") == 1).select(*out_cols)


# Resolutions for the hypertable rollup: label -> DuckDB date_trunc part.
TIME_ROLLUP_PARTS = ("minute", "hour", "day")


def time_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """One-pass multi-resolution rollup: for each resolution in
    TIME_ROLLUP_PARTS, count rows and sum ``value_col`` (as fixed-point
    BIGINT micro-units, so the sum is order-independent) per truncated
    bucket.  GROUPING SETS computes all resolutions in one shuffle with
    map-side partials."""
    truncs = [F.date_trunc(p, F.col(ts_col)).alias(f"b_{p}") for p in TIME_ROLLUP_PARTS]
    df = events.select(
        *truncs, F.round(F.col(value_col) * F.lit(1e6)).cast("bigint").alias("v_micro")
    )
    sets = ", ".join(f"(b_{p})" for p in TIME_ROLLUP_PARTS)
    df.createOrReplaceTempView("__time_rollup_in")
    case = " ".join(
        f"WHEN b_{p} IS NOT NULL THEN '{p}'" for p in TIME_ROLLUP_PARTS
    )
    coalesce = "coalesce(" + ", ".join(f"b_{p}" for p in TIME_ROLLUP_PARTS) + ")"
    return df.sparkSession.sql(
        f"""
        SELECT CASE {case} END AS resolution,
               {coalesce} AS bucket,
               count(1) AS n_events,
               sum(v_micro) AS value_micro
        FROM __time_rollup_in
        GROUP BY GROUPING SETS ({sets})
        """
    )


def time_rollup_sql(
    table: str = "events",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB twin of :func:`time_rollup` (UNION ALL of per-resolution
    GROUP BYs — same arithmetic, independent formulation)."""
    legs = [
        f"""SELECT '{p}' AS resolution, date_trunc('{p}', {ts_col}) AS bucket,
            count(1) AS n_events,
            CAST(sum(CAST(round({value_col} * 1e6) AS BIGINT)) AS BIGINT) AS value_micro
        FROM {table} GROUP BY 2"""
        for p in TIME_ROLLUP_PARTS
    ]
    return "\nUNION ALL\n".join(legs)
