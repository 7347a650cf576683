"""Temporal interval-overlap join — the 1-D time twin of the S2
covering join.

Problem: pair every point event (key, ts) with every interval
(key, start_ts, end_ts) that contains it.  Spark's built-in surface only
offers the theta formulation ``l.key = r.key AND ts BETWEEN start AND
end`` — a sort-merge join on the key with a per-key cross filter, which
goes quadratic on a hot key exactly like an uncovered spatial join does
on a hot region.

The distributed shape here is the same candidates→refine discipline the
S2 covering joins use (`operators/pip_join.py`), applied to time instead
of the sphere:

    quantize time into fixed-width buckets
      -> each POINT belongs to exactly ONE bucket (its own)
      -> each INTERVAL explodes to the buckets it touches
         (bounded: ceil(len/width)+1 rows — the 1-D "covering")
      -> hash equi-join on (key, bucket)   [broadcastable small side]
      -> exact BETWEEN refine.

No dedup pass is needed: a (point, interval) pair can only meet in the
point's single bucket, so candidates are already unique — unlike 2-D
coverings, 1-D buckets tile without overlap.

Scale notes (the 100-TB plan):
- Fact (points) side never explodes and never shuffles when the interval
  side broadcasts; otherwise both shuffle hash-partitioned on
  (key, bucket), which splits a hot key across its time range rather
  than concentrating it in one task.
- The interval explode is bounded by ``max_buckets`` with a hard
  ``assert_true`` — a mis-sized bucket width fails loudly instead of
  silently amplifying the build side (the same discipline as
  STAB_MAX_CELLS in pip_join).
- Bucket width is the covering "level": wider buckets → fewer build rows
  but more refine misses; size it near the median interval length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Hard ceiling on buckets per interval: beyond this the explode is the
# bottleneck and the caller picked the wrong bucket width.
DEFAULT_MAX_BUCKETS = 4096


def _bucket(ts: Column, width_s: int) -> Column:
    # floor-division of epoch microseconds; exact for the full timestamp
    # range (no float rounding near bucket edges).  The cast accepts both
    # TIMESTAMP and TIMESTAMP_NTZ inputs; any session-timezone offset it
    # introduces shifts every bucket identically on both sides, and the
    # exact BETWEEN refine owns the semantics regardless.
    return F.floor(F.unix_micros(ts.cast("timestamp")) / F.lit(int(width_s) * 1_000_000))


def interval_overlap_join(
    points: DataFrame,
    intervals: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_seconds: int = 1800,
    broadcast_intervals: bool = True,
    max_buckets: int = DEFAULT_MAX_BUCKETS,
) -> DataFrame:
    """All (point, interval) pairs with the same key and
    ``start_ts <= ts <= end_ts`` (closed ends).  Output carries every
    points column plus the interval's non-key columns.

    ``broadcast_intervals`` fits the common shape (few intervals, huge
    fact table); set False to hash-shuffle both sides on (key, bucket)
    when the interval side is itself corpus-sized.
    """
    seq = F.sequence(
        _bucket(F.col(start_col), bucket_seconds), _bucket(F.col(end_col), bucket_seconds)
    )
    guarded = F.when(
        F.assert_true(
            F.size(seq) <= F.lit(max_buckets),
            f"interval spans more than max_buckets={max_buckets} buckets of "
            f"{bucket_seconds}s — widen bucket_seconds or raise max_buckets",
        ).isNull(),
        seq,
    )
    iv = intervals.select(
        F.col(key_col), F.explode(guarded).alias("__b"), *(c for c in intervals.columns if c != key_col)
    )
    if broadcast_intervals:
        iv = F.broadcast(iv)
    pts = points.withColumn("__b", _bucket(F.col(ts_col), bucket_seconds))
    joined = pts.join(iv, on=[key_col, "__b"]).filter(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
    )
    return joined.drop("__b")
