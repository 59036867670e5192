"""sf1 scaling rehearsal for the pair-join tier (VERDICT r3 item 4).

The bucket caps, prefix filters and pointer-jumping loops all claim
"no quadratic anywhere" — this tool is the measurement that backs the
claim before anyone extrapolates to 100 TB. It synthesizes a corpus
``m``× the size of sf0.1 (default m=10 ≈ sf1), runs the eight most
expensive queries at both scales, and records the per-query scaling
exponent ``log(t_big/t_base)/log(m)`` — 1.0 is linear, ~1.1-1.3 is
n·log n territory, 2.0 is the quadratic the design forbids.

Scaled data is REPLICATED-WITH-MUTATION, not duplicated: copy k of a
document vowel-rotates its text (every shingle changes → the copies
are genuinely new content, intra-copy near-dup structure preserved),
copy k of an embedding rotates the vector k positions (norm kept,
direction new), lineitem copies offset all graph keys into disjoint
key ranges. A plain 10× duplication would be a pathological corpus —
every doc with 9 exact clones — that measures the caps, not the
scaling law.

Usage:
    python tools/scale_rehearsal.py [--mult 10] [--out .scratch/sfX]
        [--base /root/testdata/sf0.1] [--queries a,b,c] [--report FILE]

Writes the report JSON (default artifacts/SCALING_LOCAL.json, git-ignored
beside the committed SCALING_* records; a relative path resolves against
the repo root) and prints it as one line.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY_QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_minhash",
    "dedup_simhash64",
    "dedup_containment",
    "dedup_clusters",
    "semdedup",
    "dedup_substring",
    "pagerank_parts",
]

# Second tier: the window/join-heavy events queries and the TPC-H
# shapes whose FK joins survive the scaled build (lineitem and orders
# offset their orderkeys by the SAME base, so copies join their own
# order copies; events keep user_id, so per-user windows grow mult× —
# exactly the per-key growth a window operator must absorb linearly).
ANALYTICS_QUERIES = [
    "events_sessionize",
    "events_rolling_7d",
    "scd2_intervals",
    "sessions_overlap_windows",
    "retention_cohorts",
    "heavy_hitters",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_orders",
    "parts_bought_together",
]

# Per-copy text "dialect": a bijective character substitution, length
# kept. r4 used a bare vowel rotation (5 dialects), which made copies k
# and k+5 byte-identical — harmless at mult=10 (one exact twin per doc)
# but at mult=100 every doc would carry 19 exact twins and the pair
# OUTPUT would grow quadratically in mult by construction, poisoning
# the exponent with corpus structure instead of algorithm cost. The r5
# fix composed a full-alphabet rotation (k % 26) with a vowel rotation
# (k // 26 % 5) — 130 distinct bijections, no byte-identical copies —
# but left a subtler artifact the r6 mult=100 profile exposed: copies
# whose k differs by a multiple of 26 share the SAME alphabet rotation
# and differ only in the vowel map, so every consonant-only character
# n-gram is byte-identical between them. Above mult=26 each copy gains
# ~3 partial near-twins, cross-copy gram document-frequencies jump,
# and the prefix-join candidate volume grows superlinearly BY CORPUS
# CONSTRUCTION — the same class of builder artifact as r4's twins,
# one level down. The r6 dialect is a seeded Fisher-Yates PERMUTATION
# of the full alphabet per copy (k=0 = identity, matching the old
# behavior of leaving the base copy untouched): uniformly "distant"
# bijections, so any two copies share only the incidental gram overlap
# two unrelated texts would (~|G|²/26³ grams), at every mult.
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _dialect_map(k: int) -> str:
    """Deterministic letter permutation for copy ``k`` (identity at 0)."""
    if k == 0:
        return _ALPHA
    import random

    letters = list(_ALPHA)
    random.Random(0xD1A1EC7 + k).shuffle(letters)
    return "".join(letters)


def build_scaled(spark, base: str, out: str, mult: int) -> dict[str, int]:
    """Materialize mult× copies of documents/embeddings/lineitem/orders/
    events (+ the fixed-size dims verbatim)."""
    from pyspark.sql import functions as F

    from strava_data_pipeline_spark.sources.catalog import load_table

    counts: dict[str, int] = {}

    docs = spark.read.parquet(f"{base}/documents.parquet")
    n_docs = docs.count()
    doc_copies = []
    for k in range(mult):
        c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * n_docs))
        if k:
            # one seeded-permutation translate per copy: every letter
            # of every word changes → every k-shingle/char-gram differs
            # from every other copy's (up to incidental overlap two
            # unrelated texts would have); length (and n_chars)
            # preserved, so quality/length distributions hold
            c = c.withColumn(
                "text", F.translate("text", _ALPHA, _dialect_map(k))
            )
        doc_copies.append(c)
    scaled_docs = doc_copies[0]
    for c in doc_copies[1:]:
        scaled_docs = scaled_docs.unionByName(c)
    scaled_docs.repartition(32).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    counts["documents"] = n_docs * mult

    emb = spark.read.parquet(f"{base}/embeddings.parquet")
    n_emb = emb.count()
    dim = len(emb.select("embedding").first()[0])
    emb_copies = []
    for k in range(mult):
        c = emb.withColumn("vec_id", F.col("vec_id") + F.lit(k * n_emb))
        if k:
            rot = k % dim
            if rot:
                c = c.withColumn(
                    "embedding",
                    F.concat(
                        F.slice("embedding", rot + 1, dim - rot),
                        F.slice("embedding", 1, rot),
                    ),
                )
            if k // dim % 2:
                # second time around the rotation cycle: negate, so
                # copy k and copy k-dim are antipodal, not identical
                # (norm kept, direction new) — matters at mult > dim
                c = c.withColumn(
                    "embedding",
                    F.transform("embedding", lambda x: -x),
                )
        emb_copies.append(c)
    scaled_emb = emb_copies[0]
    for c in emb_copies[1:]:
        scaled_emb = scaled_emb.unionByName(c)
    scaled_emb.repartition(32).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )
    counts["embeddings"] = n_emb * mult

    # lineitem + orders share ONE orderkey offset base so every copy's
    # lineitems join their own order copies (q3/q18 FK integrity);
    # o_custkey is kept, so customers get mult× hotter — the realistic
    # growth direction, and the broadcast-dim side stays fixed.
    li = load_table(spark, base, "lineitem")
    od = load_table(spark, base, "orders")
    n_li = li.count()
    n_od = od.count()
    mx = li.agg(
        *[F.max(c).alias(c) for c in ("l_orderkey", "l_partkey", "l_suppkey")]
    ).first()
    ok_base = max(mx[0], od.agg(F.max("o_orderkey")).first()[0]) + 1
    li_copies = []
    od_copies = []
    for k in range(mult):
        li_copies.append(
            li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(k * ok_base))
            .withColumn("l_partkey", F.col("l_partkey") + F.lit(k * (mx[1] + 1)))
            .withColumn("l_suppkey", F.col("l_suppkey") + F.lit(k * (mx[2] + 1)))
        )
        od_copies.append(
            od.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(k * ok_base))
        )
    scaled_li = li_copies[0]
    for c in li_copies[1:]:
        scaled_li = scaled_li.unionByName(c)
    scaled_li.repartition(32).write.mode("overwrite").parquet(
        f"{out}/lineitem.parquet"
    )
    counts["lineitem"] = n_li * mult
    scaled_od = od_copies[0]
    for c in od_copies[1:]:
        scaled_od = scaled_od.unionByName(c)
    scaled_od.repartition(32).write.mode("overwrite").parquet(
        f"{out}/orders.parquet"
    )
    counts["orders"] = n_od * mult

    # events: new event_ids, SAME user_ids (per-user state grows mult×,
    # the dimension that stresses partitioned windows / sessionizers),
    # timestamps staggered +k minutes so copies don't stack on
    # identical instants (which would collapse into one session and
    # under-exercise the gap logic).
    ev = load_table(spark, base, "events")
    n_ev = ev.count()
    ev_copies = []
    for k in range(mult):
        c = ev.withColumn("event_id", F.col("event_id") + F.lit(k * n_ev))
        if k:
            c = c.withColumn(
                "ts", F.col("ts") + F.expr(f"INTERVAL {k} MINUTE")
            )
        ev_copies.append(c)
    scaled_ev = ev_copies[0]
    for c in ev_copies[1:]:
        scaled_ev = scaled_ev.unionByName(c)
    scaled_ev.repartition(32).write.mode("overwrite").parquet(
        f"{out}/events.parquet"
    )
    counts["events"] = n_ev * mult

    # dims the analytics tier joins: copied verbatim (fixed-size sides)
    for dim in ("customer", "supplier", "part", "nation", "region"):
        spark.read.parquet(f"{base}/{dim}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{dim}.parquet")
    return counts


def time_queries(
    spark, queries, names, sf_dir: str, repeats: int = 2
) -> dict[str, float]:
    """Min over ``repeats`` warm runs: the first execution of a query
    shape pays several seconds of one-off whole-stage-codegen compile —
    at these corpus sizes that fixed cost swamps the work term and a
    single-shot timing reads as a bogus sublinear (even negative)
    exponent. Min-of-warm isolates the data-dependent cost the
    exponent is supposed to measure."""
    out: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(repeats):
            t0 = time.time()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.time() - t0)
            spark.catalog.clearCache()
        out[name] = round(best, 3)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--tier",
        choices=("pairs", "analytics"),
        default="pairs",
        help="pairs = the 8 pair-join dedup/graph queries; "
        "analytics = window/join-heavy events + TPC-H shapes",
    )
    ap.add_argument("--queries", default=None)
    ap.add_argument("--report", default="artifacts/SCALING_LOCAL.json")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--skip-build", action="store_true")
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = args.out or os.path.join(repo, ".scratch", f"sfx{args.mult}")
    default_names = HEAVY_QUERIES if args.tier == "pairs" else ANALYTICS_QUERIES
    names = (
        [n for n in args.queries.split(",") if n]
        if args.queries
        else default_names
    )

    from strava_data_pipeline_spark.plans import registry
    from strava_data_pipeline_spark.session import get_spark

    spark = get_spark("scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()

    if not args.skip_build:
        counts = build_scaled(spark, args.base, out_dir, args.mult)
    else:
        counts = {}

    # warm once so JVM/codegen startup lands on neither measurement
    queries[names[0]](spark, args.base).write.format("noop").mode(
        "overwrite"
    ).save()
    spark.catalog.clearCache()

    base_t = time_queries(spark, queries, names, args.base, args.repeats)
    big_t = time_queries(spark, queries, names, out_dir, args.repeats)

    report = {
        "mult": args.mult,
        "base": args.base,
        "scaled_rows": counts,
        "queries": {},
    }
    worst = 0.0
    for n in names:
        ratio = big_t[n] / base_t[n] if base_t[n] > 0 else float("inf")
        exponent = round(math.log(ratio) / math.log(args.mult), 3)
        worst = max(worst, exponent)
        report["queries"][n] = {
            "base_sec": base_t[n],
            "scaled_sec": big_t[n],
            "ratio": round(ratio, 2),
            "exponent": exponent,
        }
    report["worst_exponent"] = round(worst, 3)

    path = args.report
    if not os.path.isabs(path):
        path = os.path.join(repo, path)
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
