"""Skew-robust two-phase prefix primitives: bucketed cumulative sums
and bucketed carry-forward (the lag / last-ignorenulls class).

Why these exist: every per-key sequential window (cumsum, lag,
last-ignorenulls) hash-partitions by the key, so ONE task sorts and
scans a hot key's entire history — the r7/r8 Zipf rehearsals measured
3.3-5.4x hot-user taxes on exactly these shapes (artifacts/SCALING_SKEW_R7/R8),
and AQE cannot split a window partition. ``sessionize_bucketed``
(operators/sessionize.py) proved the fix for session break counts;
this module is the same two-phase idea factored into the two reusable
primitives the other window-tier queries need:

1. intra-bucket pass — the window runs over (key, time-bucket), so a
   hot key's rows spread across its calendar buckets and the biggest
   sort any task performs is one key-BUCKET, not one key.
2. boundary repair — ONE summary row per (key, bucket) flows through
   a per-key window (the sequential dependency rides the summary,
   never the facts), producing each bucket's incoming offset/carry.
3. a (key, bucket)-keyed join puts the offset back on the facts; the
   join key equals the intra window's partition key, so the exchange
   is reused.

Like ``salted_join`` / ``sessionize_bucketed``, these are the HOT-KEY
KNOB, not the default: on uniform data the two extra exchanges and
the summary join are pure overhead (measured ~2x on sessionize). Reach
for them when key-concentration stats (heavy_hitters,
degree_histogram) show a key holding more rows than one task should
sort. Results are EXACTLY equal to the plain window's — the bucketed
twins registered against the same oracles hold that contract
hash-for-hash.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bucketed_cumsum(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    order_cols: Sequence[str],
    sums: Mapping[str, str],
) -> DataFrame:
    """Inclusive running sums per key in (order_cols) order, two-phase.

    ``sums`` maps output column -> input column. Equivalent to
    ``sum(in) OVER (PARTITION BY key ORDER BY order_cols ROWS
    UNBOUNDED PRECEDING)`` for every entry — Spark evaluates that
    frame incrementally (O(1)/row), so the plain form is never a
    frame-replay problem; what this variant fixes is the ONE-TASK
    sort/scan of a hot key. Ties in order_cols: like the plain window,
    peer order within a tie is engine-chosen — callers must either
    make order_cols a total order per key or only consume tie-
    insensitive results (all tied rows' inputs commute).
    """
    order = list(order_cols)
    w_in = (
        Window.partitionBy(key_col, bucket_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = df.select(
        "*",
        *[
            F.sum(src).over(w_in).alias(f"__intra_{out}")
            for out, src in sums.items()
        ],
    )
    btot = df.groupBy(key_col, bucket_col).agg(
        *[F.sum(src).alias(f"__btot_{out}") for out, src in sums.items()]
    )
    w_b = (
        Window.partitionBy(key_col)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = btot.select(
        key_col,
        bucket_col,
        *[
            F.coalesce(F.sum(f"__btot_{out}").over(w_b), F.lit(0)).alias(
                f"__off_{out}"
            )
            for out in sums
        ],
    )
    out_df = intra.join(off, [key_col, bucket_col])
    for out in sums:
        out_df = out_df.withColumn(
            out, F.col(f"__off_{out}") + F.col(f"__intra_{out}")
        )
    return out_df.drop(
        *[f"__intra_{out}" for out in sums],
        *[f"__off_{out}" for out in sums],
    )


def bucketed_carry(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    order_cols: Sequence[str],
    carries: Mapping[str, str | Column],
) -> DataFrame:
    """Last non-null value STRICTLY BEFORE the current row per key —
    the primitive behind ``lag`` (input never null → carry IS the lag)
    and ``last(expr, ignorenulls) OVER (... ROWS BETWEEN UNBOUNDED
    PRECEDING AND 1 PRECEDING)``, two-phase.

    ``carries`` maps output column -> input column name or Column
    expression (e.g. a conditional ``F.when(...)`` — nulls skipped,
    exactly like ignorenulls). Requires order_cols to be a TOTAL order
    per key (the summary picks "last in bucket" by lexicographic max
    over them — ties would make that pick, and the plain window's,
    engine-dependent).
    """
    order = list(order_cols)
    work = df
    names: dict[str, str] = {}
    for out, src in carries.items():
        col = F.col(src) if isinstance(src, str) else src
        names[out] = f"__in_{out}"
        work = work.withColumn(names[out], col)
    w_in = (
        Window.partitionBy(key_col, bucket_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = work.select(
        "*",
        *[
            F.last(names[out], ignorenulls=True)
            .over(w_in)
            .alias(f"__intra_{out}")
            for out in carries
        ],
    )
    # per-bucket summary: the LAST non-null input in (order_cols)
    # order, via lexicographic struct max — no window, map-side
    # combinable
    summ = work.groupBy(key_col, bucket_col).agg(
        *[
            F.max(
                F.when(
                    F.col(names[out]).isNotNull(),
                    F.struct(
                        *[F.col(c).alias(f"o{i}") for i, c in enumerate(order)],
                        F.col(names[out]).alias("v"),
                    ),
                )
            )["v"].alias(f"__last_{out}")
            for out in carries
        ]
    )
    w_b = (
        Window.partitionBy(key_col)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    inc = summ.select(
        key_col,
        bucket_col,
        *[
            F.last(f"__last_{out}", ignorenulls=True)
            .over(w_b)
            .alias(f"__inc_{out}")
            for out in carries
        ],
    )
    out_df = intra.join(inc, [key_col, bucket_col])
    for out in carries:
        out_df = out_df.withColumn(
            out, F.coalesce(F.col(f"__intra_{out}"), F.col(f"__inc_{out}"))
        )
    return out_df.drop(
        *[names[out] for out in carries],
        *[f"__intra_{out}" for out in carries],
        *[f"__inc_{out}" for out in carries],
    )
