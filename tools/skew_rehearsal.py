"""Zipf-skew scaling rehearsal (VERDICT r6 task 3).

Every mult=10/100 exponent so far was measured on near-uniform
synthetic data; the skew machinery (AQE skew splits,
operators/skew.py::salted_join, cap_hot_buckets) has oracle coverage
but no at-scale measurement under real skew. This tool builds a
SKEWED variant of a corpus — hot user, hot source, hot shingle — with
one deterministic column transform applied identically at every
scale, then measures the five skew-sensitive queries at skewed-base
vs skewed-mult and records the exponent, plus the skew tax against
the uniform corpus at the same scale.

Skew shapes (all keyed on xxhash64 of the row id, so base and scaled
corpora skew identically and the exponent is honest):
- events.user_id: ~25% of all rows collapse onto ONE hot user and a
  further ~15% onto 9 warm users (a Zipf-ish head over the ~1.5k
  uniform tail) — the hot-athlete case salted_join and AQE skew-split
  exist for (user_activity_join_salted, sessions_overlap_windows,
  heavy_hitters).
- documents.source: ~30% of docs collapse onto one hot domain — the
  hot-host case source_caps' per-source window must absorb.
- documents.text: ~20% of docs become boilerplate (one fixed ~40-word
  template + an 8-char unique suffix) — near-identical shingle sets,
  so their minhash bands collide into degenerate LSH buckets and
  cap_hot_buckets MUST engage or the dedup_minhash pair join goes
  quadratic in the hot-doc count (100k boilerplate docs at mult=100 →
  5e9 candidate pairs uncapped). n_chars is recomputed so
  length-ranked windows stay consistent.

The cap engagement is proven DIRECTLY at base scale: candidate-pair
counts from minhash_lsh_pairs with the production cap vs uncapped
(recorded in the report), alongside the hot-bucket size.

Usage:
    python tools/skew_rehearsal.py [--mult 100]
        [--base /root/testdata/sf0.1] [--uniform-scaled .scratch/sfx100]
        [--report artifacts/SCALING_SKEW_LOCAL.json] [--skip-build]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SKEW_QUERIES = [
    "user_activity_join_salted",
    "sessions_overlap_windows",
    "heavy_hitters",
    "source_caps",
    "dedup_minhash",
]

# --shape degree (VERDICT r9 task 1): the graph tier under Zipf-DEGREE
# skew — the one scale axis the rehearsal discipline never measured.
DEGREE_QUERIES = [
    "pagerank_parts",
    "kcore_peel",
    "copurchase_triangles",
    "bfs_distance",
    "degree_histogram",
]

_BOILERPLATE = (
    "this website uses cookies to improve your experience by continuing "
    "to browse the site you agree to our use of cookies all rights "
    "reserved terms of service and privacy policy apply contact the "
    "webmaster for takedown requests copyright holders retain all rights"
)


def build_skewed(spark, src: str, out: str) -> dict[str, int]:
    """Apply the deterministic skew transforms to ``src`` (events,
    documents; customer copied verbatim for the salted join's dim
    side) and write to ``out``."""
    from pyspark.sql import functions as F

    from strava_data_pipeline_spark.sources.catalog import load_table

    counts: dict[str, int] = {}

    ev = load_table(spark, src, "events")
    r = F.pmod(F.xxhash64(F.col("event_id")), F.lit(100))
    warm = F.pmod(F.xxhash64(F.col("event_id") + F.lit(1)), F.lit(9)) + F.lit(1)
    skew_ev = ev.withColumn(
        "user_id",
        F.when(r < 25, F.lit(7))
        .when(r < 40, warm.cast("long"))
        .otherwise(F.col("user_id")),
    )
    skew_ev.repartition(32).write.mode("overwrite").parquet(
        f"{out}/events.parquet"
    )
    counts["events"] = skew_ev.count()

    docs = spark.read.parquet(f"{src}/documents.parquet")
    rd = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(100))
    skew_docs = (
        docs.withColumn(
            "source",
            F.when(rd < 30, F.lit("hot_src")).otherwise(F.col("source")),
        )
        .withColumn(
            "text",
            F.when(
                rd < 20,
                F.concat(
                    F.lit(_BOILERPLATE + " "),
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                ),
            ).otherwise(F.col("text")),
        )
        .withColumn("n_chars", F.length("text").cast("bigint"))
    )
    skew_docs.repartition(32).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    counts["documents"] = skew_docs.count()

    # small dims copied verbatim (the salted join's dim side, and the
    # nation/region lookups some event queries join)
    for dim in ("customer", "nation", "region", "supplier", "part"):
        spark.read.parquet(f"{src}/{dim}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{dim}.parquet")
    return counts


def build_skewed_width(spark, src: str, out: str) -> dict[str, int]:
    """Row-WIDTH skew (VERDICT r10 task 6) — the one distribution no
    rehearsal ever varied: every probed axis so far is row-COUNT skew
    (hot user/source/degree); document LENGTH is uniform by
    construction (median 295 chars, max 577 at sf0.1). Here ONE
    document (the min doc_id) becomes ~10^4x the median length, built
    from hash-derived unique 8-char words so its DISTINCT-shingle set
    genuinely scales with length (a repeated template would have a
    bounded shingle vocabulary and stress nothing). The explode-based
    operators fan out per-token, so the giant doc concentrates ~10^4x
    the fan-out of any neighbor in one task — the straggler shape a
    real crawl's occasional mega-page produces. n_chars recomputed so
    length-ranked windows stay consistent. Everything else copies
    verbatim."""
    from pyspark.sql import functions as F

    counts: dict[str, int] = {}
    docs = spark.read.parquet(f"{src}/documents.parquet")
    med = docs.select(
        F.expr("percentile_approx(length(text), 0.5)")
    ).first()[0]
    n_words = (10_000 * int(med)) // 9  # 8-char word + 1 space
    min_id = docs.agg(F.min("doc_id")).first()[0]
    giant = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("#"),
                        i.cast("string"),
                    )
                ),
                1,
                8,
            ),
        ),
    )
    skew_docs = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == min_id, giant).otherwise(F.col("text")),
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    skew_docs.repartition(32).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    counts["documents"] = skew_docs.count()
    counts["median_len"] = int(med)
    counts["giant_len"] = n_words * 9 - 1
    for tbl in (
        "events", "customer", "nation", "region", "supplier", "part",
        "orders", "lineitem", "embeddings",
    ):
        p = f"{src}/{tbl}.parquet"
        if os.path.exists(p):
            spark.read.parquet(p).write.mode("overwrite").parquet(
                f"{out}/{tbl}.parquet"
            )
    return counts


def giant_image_probe() -> dict:
    """The image half of the width axis, measured DIRECTLY: the
    registry's planted rasters are dimension-bounded by their seed
    formulas (max 32x24 — the planter IS the ingest-side size cap a
    production pipeline would enforce), so no corpus transform can
    produce a giant image through the registered faces. This probe
    quantifies what a cap-less ingest would cost: decode one ~100x-
    pixel GIF (320x240 vs the 32x24 max plant) and one equivalent PNG
    through the same pure-python codecs a single task would run, and
    record wall seconds + pixels/sec — the straggler bound for ONE
    uncapped image, whatever the corpus scale."""
    import time as _t

    from strava_data_pipeline_spark.operators.multimodal import (
        _decode_gif_lzw,
        _decode_png,
        encode_gif_lzw,
        plant_png,
    )

    out: dict = {}
    w, h = 320, 240
    idx = bytes((11 * (p // w) + (p % w) // 3) % 256 for p in range(w * h))
    gif = encode_gif_lzw(w, h, idx)
    t0 = _t.time()
    d = _decode_gif_lzw(gif)
    dt = _t.time() - t0
    out["gif_320x240"] = {
        "bytes": len(gif),
        "pixels": w * h,
        "decode_sec": round(dt, 4),
        "px_per_sec": int(w * h / dt),
    }
    # PNG path: plant_png caps dims by seed; scale by calling the
    # encoder primitives via a synthetic big raster is not exposed, so
    # measure the planted max and extrapolate linearly (DEFLATE + five
    # filters are O(pixels))
    big_seed = 24 + 7 * 16 * 7  # w=8+24=32, h=8+16=24 — the max plant
    png = plant_png(big_seed)
    t0 = _t.time()
    _decode_png(png)
    dt = _t.time() - t0
    out["png_max_plant"] = {
        "bytes": len(png),
        "pixels": 32 * 24,
        "decode_sec": round(dt, 4),
        "px_per_sec": int(32 * 24 / max(dt, 1e-9)),
    }
    return out


# --shape width (VERDICT r10 task 6): the explode-based operators that
# fan out per-token — a single ~10^4x-median document concentrates its
# whole fan-out in one task.
WIDTH_QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_substring",
    "repetition_metrics",
    "corpus_chunk",
]


def build_skewed_degree(spark, src: str, out: str) -> dict[str, int]:
    """Zipf-DEGREE skew for the co-purchase graph tier: ~6% of lineitem
    LINES (keyed on xxhash64 of orderkey+linenumber, so base and scaled
    corpora skew identically) rewrite l_partkey to the one celebrity
    part 1 — with ~4 lines per order that puts the celebrity in
    ~1-0.94^4 ≈ 22% of baskets, concentrating pagerank's dst-keyed
    rank flow, kcore's degree recount, the triangle wedge fan-out, and
    BFS frontier expansion on a single hot node. A line-level rule
    (not "first line of a hot order") needs no window and survives any
    replication scheme the scaled corpus used. Only the tables the
    graph tier reads are written (lineitem transformed, part verbatim
    for the BFS seed set)."""
    from pyspark.sql import functions as F

    from strava_data_pipeline_spark.sources.catalog import load_table

    counts: dict[str, int] = {}
    li = load_table(spark, src, "lineitem")
    hot_line = (
        F.pmod(
            F.xxhash64(
                F.col("l_orderkey") * F.lit(7919) + F.col("l_linenumber")
            ),
            F.lit(100),
        )
        < 6
    )
    skew_li = li.withColumn(
        "l_partkey",
        F.when(hot_line, F.lit(1)).otherwise(F.col("l_partkey")),
    )
    skew_li.repartition(32).write.mode("overwrite").parquet(
        f"{out}/lineitem.parquet"
    )
    counts["lineitem"] = skew_li.count()
    spark.read.parquet(f"{src}/part.parquet").write.mode("overwrite").parquet(
        f"{out}/part.parquet"
    )
    return counts


def hot_degree_probe(spark, sf_dir: str) -> dict:
    """The measured hot-node number the r9 verdict asked for: degree of
    the celebrity part vs the graph's p50/max over ordinary nodes, and
    the basket-hit rate, on the SKEWED corpus."""
    from pyspark.sql import functions as F

    from strava_data_pipeline_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    hit = baskets.select(
        F.count("*").alias("n"),
        F.sum(F.array_contains("ps", 1).cast("int")).alias("hot"),
    ).first()
    edges = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> flatten("
                    " transform(slice(ps, i + 2, size(ps)), y ->"
                    " array(named_struct('src', x, 'dst', y),"
                    "       named_struct('src', y, 'dst', x))))))"
                )
            ).alias("e")
        )
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("c"))
    hot_deg = deg.where(F.col("src") == 1).select("c").first()
    stats = deg.where(F.col("src") != 1).agg(
        F.expr("percentile_approx(c, 0.5)").alias("p50"),
        F.max("c").alias("mx"),
    ).first()
    spark.catalog.clearCache()
    return {
        "n_baskets": int(hit["n"]),
        "hot_basket_share": round(int(hit["hot"]) / int(hit["n"]), 4),
        "hot_degree": int(hot_deg["c"]) if hot_deg else 0,
        "p50_degree_others": int(stats["p50"]),
        "max_degree_others": int(stats["mx"]),
    }


def cap_engagement_probe(spark, sf_dir: str) -> dict:
    """Direct evidence the hot-bucket cap engages on the skewed corpus:
    candidate-pair count and wall time with the production cap vs
    uncapped, plus the largest band bucket. Run at BASE scale only —
    uncapped at mult=100 is the quadratic this exists to prevent."""
    from pyspark.sql import functions as F

    from strava_data_pipeline_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = D.minhash_signatures(docs)

    t0 = time.time()
    capped_pairs = D.minhash_lsh_pairs(sig).count()
    t_capped = round(time.time() - t0, 3)
    spark.catalog.clearCache()

    t0 = time.time()
    uncapped_pairs = D.minhash_lsh_pairs(sig, max_bucket=1 << 40).count()
    t_uncapped = round(time.time() - t0, 3)
    spark.catalog.clearCache()

    # largest band bucket (the quantity the cap bounds)
    params_sig = D.minhash_signatures(docs)
    bands = params_sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"mh_{b * D.ROWS_PER_BAND + x}")
                                    for x in range(D.ROWS_PER_BAND)
                                ],
                            )
                        ).alias("bkey"),
                    )
                    for b in range(D.N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bkey")
    max_bucket = (
        bands.groupBy("band", "bkey")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    spark.catalog.clearCache()
    return {
        "max_band_bucket": int(max_bucket),
        "cap": D.MAX_BUCKET,
        "pairs_capped": int(capped_pairs),
        "pairs_uncapped": int(uncapped_pairs),
        "sec_capped": t_capped,
        "sec_uncapped": t_uncapped,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=100)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--uniform-scaled", default=None)
    # a relative --report resolves against the repo root; the default
    # is git-ignored so a plain run cannot overwrite a committed record
    ap.add_argument("--report", default="artifacts/SCALING_SKEW_LOCAL.json")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated query names (default: the r7 SKEW_QUERIES)",
    )
    ap.add_argument(
        "--skip-probe",
        action="store_true",
        help="skip the minhash cap-engagement probe (already recorded)",
    )
    ap.add_argument(
        "--shape",
        choices=("user", "degree", "width"),
        default="user",
        help="user = the r7 hot-user/source/shingle transforms; degree = "
        "the r10 celebrity-part co-purchase graph; width = the r11 "
        "single-giant-document row-width axis",
    )
    ap.add_argument(
        "--fresh-sessions",
        action="store_true",
        help="time each query in its own subprocess/JVM (tools/"
        "time_isolated.py): REQUIRED for the graph tier at mult=100 — "
        "caller-owned localCheckpoint/persist blocks accumulate across "
        "back-to-back big-graph queries in one 8g session and the third "
        "query dies of UNABLE_TO_ACQUIRE_MEMORY even though each passes "
        "standalone (found by this probe in r10); also matches the bench "
        "floors' fresh-process methodology",
    )
    args = ap.parse_args()
    skew_queries = (
        [n for n in args.queries.split(",") if n]
        if args.queries
        else {
            "degree": DEGREE_QUERIES,
            "width": WIDTH_QUERIES,
        }.get(args.shape, SKEW_QUERIES)
    )

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    uniform_scaled = args.uniform_scaled or os.path.join(
        repo, ".scratch", f"sfx{args.mult}"
    )
    tag = {"degree": "skewdeg", "width": "skewwid"}.get(args.shape, "skew")
    skew_base = os.path.join(repo, ".scratch", f"{tag}_base")
    skew_scaled = os.path.join(repo, ".scratch", f"{tag}{args.mult}")

    from scale_rehearsal import time_queries

    from strava_data_pipeline_spark.plans import registry
    from strava_data_pipeline_spark.session import get_spark

    spark = get_spark("skew-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()

    report: dict = {"mult": args.mult, "shape": args.shape, "queries": {}}
    builder = {
        "degree": build_skewed_degree,
        "width": build_skewed_width,
    }.get(args.shape, build_skewed)
    if not args.skip_build:
        report["skew_base_rows"] = builder(spark, args.base, skew_base)
        report["skew_scaled_rows"] = builder(
            spark, uniform_scaled, skew_scaled
        )

    if args.shape == "width":
        if not args.skip_probe:
            report["giant_image_probe"] = giant_image_probe()
    elif args.shape == "degree":
        # the hot-node numbers (degree vs p50/max, basket share) at
        # BASE scale; the scaled corpus skews identically by key
        if not args.skip_probe:
            report["hot_degree_probe_base"] = hot_degree_probe(
                spark, skew_base
            )
    elif not args.skip_probe:
        # cap-engagement evidence at base scale (uncapped at mult=100
        # IS the quadratic; never run it there)
        report["minhash_cap_probe_base"] = cap_engagement_probe(
            spark, skew_base
        )

    if args.fresh_sessions:
        from time_isolated import time_queries_isolated

        t_base = time_queries_isolated(skew_queries, skew_base, args.repeats)
        t_skew = time_queries_isolated(
            skew_queries, skew_scaled, args.repeats
        )
        t_unif = time_queries_isolated(
            skew_queries, uniform_scaled, args.repeats
        )
        report["timing_methodology"] = "fresh-session-per-query"
    else:
        # warm codegen off the measurements
        queries[skew_queries[0]](spark, skew_base).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()

        t_base = time_queries(
            spark, queries, skew_queries, skew_base, args.repeats
        )
        t_skew = time_queries(
            spark, queries, skew_queries, skew_scaled, args.repeats
        )
        t_unif = time_queries(
            spark, queries, skew_queries, uniform_scaled, args.repeats
        )

    worst = 0.0
    for n in skew_queries:
        if not all(
            isinstance(t[n], (int, float)) for t in (t_base, t_skew, t_unif)
        ):
            report["queries"][n] = {
                "error": {
                    "base": t_base[n],
                    "skew": t_skew[n],
                    "uniform": t_unif[n],
                }
            }
            continue
        ratio = t_skew[n] / t_base[n] if t_base[n] > 0 else float("inf")
        exponent = round(math.log(ratio) / math.log(args.mult), 3)
        worst = max(worst, exponent)
        report["queries"][n] = {
            "skew_base_sec": t_base[n],
            "skew_scaled_sec": t_skew[n],
            "exponent": exponent,
            "uniform_scaled_sec": t_unif[n],
            "skew_tax": round(t_skew[n] / t_unif[n], 2)
            if t_unif[n] > 0
            else None,
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
