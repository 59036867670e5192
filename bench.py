"""Headline benchmark: runs the registry rows tagged "bench" at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) and prints ONE JSON line:

    {"metric": "...", "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Each query is forced to full execution with a count-style action (no
driver-side result materialization beyond the aggregate).
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(HERE, "tools")]

from bench_compare import BAND_MARGIN, CUTOFF, RATIO, compare  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from strava_data_pipeline_spark.plans import registry
    from strava_data_pipeline_spark.session import get_spark, warm_python_workers

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()

    # warm the JVM, the parquet footers and the Python workers so we
    # measure query time, not startup
    queries["q1_pricing_summary"](spark, sf_dir).count()
    warm_python_workers(spark)

    timings: dict[str, float] = {}
    for name in registry.tagged("bench"):
        t0 = time.time()
        df = queries[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
        # operators persist intermediates (minhash signatures, jaccard
        # gram index) for their own multi-consumer plans; drop them so
        # cached partitions don't accumulate across the 19+ queries
        spark.catalog.clearCache()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # `queries` is emitted LAST and sorted cheapest-first so a clipped
    # 2000-char tail capture of the stdout line always contains the
    # most expensive queries (r5's driver artifact truncated exactly
    # the two headline costs, dedup_ngram_jaccard and dedup_minhash,
    # because they happened to serialize early).
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "queries": dict(sorted(timings.items(), key=lambda kv: kv[1])),
    }

    # Second tier (opt-in: SPARK_GRAFT_BENCH_ALL=1): EVERY registry
    # query at sf0.01 — catches a regression in any operator the
    # headline set doesn't cover. Same single-JSON-line contract.
    if os.environ.get("SPARK_GRAFT_BENCH_ALL"):
        tier2_dir = os.environ.get(
            "SPARK_GRAFT_TIER2_DIR", "/root/testdata/sf0.01"
        )
        tier2: dict[str, float] = {}
        for name in sorted(queries):
            t0 = time.time()
            queries[name](spark, tier2_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            tier2[name] = round(time.time() - t0, 3)
            spark.catalog.clearCache()
        # tier2 inserts BEFORE the headline `queries` key so the
        # stdout tail still ends with the headline numbers
        hl = out.pop("queries")
        out["tier2_sf"] = 0.01
        out["tier2_total"] = round(sum(tier2.values()), 3)
        out["tier2_queries"] = dict(sorted(tier2.items(), key=lambda kv: kv[1]))
        out["queries"] = hl

    emit(out)

    # Opt-in per-round regression gate (SPARK_GRAFT_REGRESSION_GATE=1):
    # compare this UNCONTENDED run against the recorded floor and fail
    # loudly if any query regressed past 1.5x. Off by default — the
    # driver's contended run shares the box with other work, and a
    # uniform ~1.6x contention tax (VERDICT r3) is not a regression.
    if os.environ.get("SPARK_GRAFT_REGRESSION_GATE"):
        raise SystemExit(gate(out["queries"], tier2=out.get("tier2_queries")))


def _subsecond_aggregate_regressions(
    floor: dict,
    cur: dict,
    band: list | None,
    label: str,
    ratio: float = RATIO,
    cutoff: float = CUTOFF,
    band_margin: float = BAND_MARGIN,
    members: list | None = None,
) -> set:
    """One gated quantity for the queries the per-query cutoff skips:
    SUM of current times over queries whose FLOOR is sub-cutoff,
    compared against the sum of those floors (ratio) and the recorded
    sum band (same margin discipline as per-query bands). Only queries
    present in BOTH maps count, so a trimmed run stays comparable.

    ``members`` is the membership list FROZEN at band-merge time
    (bench_bands.py writes it next to the band): the recorded sum band
    was measured over that set, so gating a sum recomputed from
    CURRENT floors against it compares incomparable quantities
    whenever a later merge moved a floor across the cutoff (ADVICE
    r7). Without a frozen list (pre-r8 baseline), fall back to
    deriving membership from the floors, as before."""
    if members is not None:
        names = [n for n in members if n in floor and n in cur]
    else:
        names = [n for n, f in floor.items() if f < cutoff and n in cur]
    if not names:
        return set()
    base_sum = sum(floor[n] for n in names)
    cur_sum = sum(cur[n] for n in names)
    # the absolute-delta floor mirrors the per-query cutoff: a sum
    # that grew by less than one cutoff's worth is the same scheduler
    # jitter the cutoff exists to ignore (a lone 0.1s query doubling
    # must not trip the aggregate)
    if cur_sum <= ratio * base_sum or cur_sum - base_sum < cutoff:
        return set()
    if band is not None and cur_sum <= band[1] * band_margin:
        return set()
    return {f"{label}({len(names)}q:{cur_sum:.2f}s/floor{base_sum:.2f}s)"}


def gate(timings: dict, floor_path: str | None = None, tier2: dict | None = None) -> int:
    floor_path = floor_path or os.path.join(HERE, "BASELINE_BENCH.json")
    if not os.path.exists(floor_path):
        print(f"regression gate: no floor at {floor_path}, skipping", file=sys.stderr)
        return 0
    with open(floor_path) as f:
        floor_doc = json.load(f)
    regressed: set[str] = set()
    # tier2 (all-registry sf0.01) compares when BOTH sides carry it —
    # the non-headline queries' only perf guard
    for prefix, label, cur in (("", "", timings), ("tier2_", "tier2:", tier2)):
        floor = floor_doc.get(prefix + "queries")
        if not cur or not floor:
            continue
        # The CUTOFF (1.0s) absolute floor: sub-second queries jitter
        # multiplicatively (an r6 quiet-box run flagged
        # user_activity_join at 0.741s — 3.5 MILLISECONDS past its
        # margined band on a host cycling between load 0 and 13) and
        # their regressions are invisible in the aggregate the gate
        # protects; the expensive plans are the ones that can go
        # quadratic. The recorded variance bands MUST reach the
        # compare (a query at or below its margined band high is
        # observed machine variance, not a plan regression) — the
        # first r6 gate run flagged decontaminate at 1.46s, inside its
        # recorded [1.33, 1.62] band, because the bands weren't passed.
        regressed |= {
            label + n
            for n in compare(
                floor, cur, min_abs_sec=CUTOFF, bands=floor_doc.get(prefix + "bands")
            )
        }
        # The cutoff leaves the sub-second queries individually
        # unguarded; their SUM is gated as one quantity so a broad
        # small-query regression (a session-config slip, a new
        # per-query fixed cost) cannot hide under the cutoff.
        regressed |= _subsecond_aggregate_regressions(
            floor,
            cur,
            band=floor_doc.get(prefix + "sub_cutoff_band"),
            label=label + "subsecond_sum",
            members=floor_doc.get(prefix + "sub_cutoff_members"),
        )
    if regressed:
        print(f"regression gate FAILED: {sorted(regressed)}", file=sys.stderr)
        return 1
    print("regression gate: clean", file=sys.stderr)
    return 0


def emit(out: dict) -> None:
    """Print the one-line JSON contract AND write it to a file: the
    stdout line is what the driver parses, but a clipped capture tail
    can truncate it (r3 lost q1_pricing_summary's number that way) —
    the file copy is the loss-proof record. The stdout line goes FIRST
    and the file write may not kill it: an unwritable
    SPARK_GRAFT_BENCH_FILE must not throw away the whole run's numbers
    after ~90s of benchmark work."""
    print(json.dumps(out))
    local_path = os.path.join(
        HERE, os.environ.get("SPARK_GRAFT_BENCH_FILE", "BENCH_LOCAL.json")
    )
    try:
        with open(local_path, "w") as f:
            json.dump(out, f)
            f.write("\n")
    except OSError as e:
        print(f"bench: could not write {local_path}: {e}", file=sys.stderr)


if __name__ == "__main__":
    main()
