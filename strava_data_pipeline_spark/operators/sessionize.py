"""Gap-based sessionization over an event stream.

Not in the reference's SQL surface, but the canonical downstream query
over the activity/event stream it ingests. Pure window functions: one
shuffle on the user key, everything else stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Assign session ids: a session breaks when the gap from the
    previous event of the same user exceeds ``gap_minutes``.

    Session id = running count of session breaks per user (lag + windowed
    sum) — a single hash-partition by user, no self-join.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap_s = gap_minutes * 60
    with_break = df.withColumn(
        "_new_session",
        F.when(
            F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
            > gap_s,
            1,
        )
        .otherwise(0)
        .cast("int"),
    )
    return with_break.withColumn(
        "session_seq", F.sum("_new_session").over(w).cast("bigint")
    ).drop("_new_session")


def session_stats(df: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-session rollup: event count, span, total value."""
    s = sessionize(df, gap_minutes=gap_minutes)
    return s.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def sessionize_bucketed(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_minutes: int = 30,
    bucket_hours: int = 24,
) -> DataFrame:
    """Skew-robust twin of ``sessionize``: identical session ids, but
    no per-user window ever sees a whole user.

    ``sessionize`` hash-partitions by user, so ONE task sorts a hot
    user's entire history — the r7 Zipf rehearsal (artifacts/SCALING_SKEW_R7)
    measured a 3.8x tax on sessions_overlap_windows when one user
    holds 25% of a 10M-row corpus, and AQE cannot split a window
    partition. This variant is the two-phase production shape.

    Measured trade at mult=100 (artifacts/SCALING_SKEW_R7.json
    sessionize_bucketed_probe): 1.56x faster than plain under the
    25%-hot-user skew (6.7s -> 4.3s), 2.4x SLOWER on uniform data
    (1.6s -> 3.9s — two extra exchanges + the summary join are pure
    overhead when no partition is hot). Like salted_join, this is the
    HOT-KEY KNOB, not the default: reach for it when key-concentration
    stats (heavy_hitters, degree_histogram) show a user holding more
    rows than one task should sort. Phases:

    1. intra-bucket pass — window over (user, time-bucket): per-row
       break flags and a running intra-bucket break count. A hot
       user's rows spread across (span / bucket_hours) independent
       partitions, so the biggest sort is one user-DAY, not one user.
    2. boundary repair — ONE ROW per (user, bucket) (first/last event
       second, intra-break total) flows through a per-user window:
       whether each bucket's first event starts a new session (gap
       from the previous bucket's last event — empty calendar buckets
       simply don't appear, lag skips them), and the cumulative
       session offset Σ breaks in earlier buckets + Σ boundary breaks
       through this one. The hot user's frame here is ~365 rows/year —
       the sequential dependency rides the tiny summary, never the
       facts.
    3. one (user, bucket)-keyed join puts the offset back on the
       facts: session_seq = offset + intra_seq. The join key equals
       the intra window's partition key, so the exchange is reused.

    Gap arithmetic is on whole seconds (``cast(ts as long)``), the
    same truncation ``sessionize`` and every session oracle use; ties
    order by (ts, id) inside a bucket, which equals the global order
    because the bucket is a function of ts. Sessions may span any
    number of buckets (a gap longer than the bucket just makes the
    boundary term fire). Contract: ts NOT NULL (null-ts rows all land
    in one NULL bucket per user — same relative order as the global
    window, but don't rely on it; the quality gate enforces ts
    upstream).
    """
    gap_s = gap_minutes * 60
    bucket_s = bucket_hours * 3600
    e = df.withColumn("_ts_l", F.col(ts_col).cast("long")).withColumn(
        "_bkt", F.floor(F.col("_ts_l") / F.lit(bucket_s))
    )
    w_in = Window.partitionBy(user_col, "_bkt").orderBy(ts_col, id_col)
    intra = (
        e.withColumn("_prev", F.lag("_ts_l").over(w_in))
        .withColumn(
            "_brk",
            F.when(F.col("_ts_l") - F.col("_prev") > gap_s, 1)
            .otherwise(0)
            .cast("int"),
        )
        .withColumn("_seq_in", F.sum("_brk").over(w_in).cast("bigint"))
    )
    summ = intra.groupBy(user_col, "_bkt").agg(
        F.min("_ts_l").alias("_first"),
        F.max("_ts_l").alias("_last"),
        F.sum("_brk").cast("bigint").alias("_nbrk"),
    )
    w_b = Window.partitionBy(user_col).orderBy("_bkt")
    bdry = summ.withColumn("_prev_last", F.lag("_last").over(w_b)).withColumn(
        "_bdry",
        F.when(F.col("_first") - F.col("_prev_last") > gap_s, 1)
        .otherwise(0)
        .cast("int"),
    )
    off = bdry.withColumn(
        "_off",
        (
            F.coalesce(
                F.sum("_nbrk").over(
                    w_b.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
            + F.sum("_bdry").over(
                w_b.rowsBetween(Window.unboundedPreceding, 0)
            )
        ).cast("bigint"),
    ).select(user_col, "_bkt", "_off")
    out = intra.join(off, [user_col, "_bkt"]).withColumn(
        "session_seq", (F.col("_off") + F.col("_seq_in")).cast("bigint")
    )
    return out.drop("_ts_l", "_bkt", "_prev", "_brk", "_seq_in", "_off")
