"""Measure per-query variance bands for the bench regression gate.

The 1.5× gate (tools/bench_compare.py) false-flags sub-second queries:
their wall-time is dominated by scheduler/codegen-position jitter, and
one contended driver run can read 1.6× an uncontended floor with no
plan change (seven such queries in r4 — VERDICT r4 task 7). The fix is
to RECORD the observed variance: run the headline bench N times under
the driver's own protocol (fresh process per run, so every run pays the
same cold-compile distribution), and store per-query [lo, hi] bands in
BASELINE_BENCH.json. bench_compare then only flags a query that is BOTH
past ratio×floor AND above its recorded band — i.e., slower than this
machine has ever legitimately measured it.

Merge discipline (r7, closes the r6 ADVICE hole): floors only ever move
DOWN; band lows only ever move DOWN; band HIGHS are guarded — a
candidate high that would itself excuse a gate-able regression (above
ratio×floor AND above the absolute cutoff) is NOT merged unless
--allow-inflated is passed, because a bands refresh taken while a
genuine regression is live would otherwise bake the regressed time into
the high-water mark permanently. Every merge appends a provenance
record (source, run totals, capped queries) to "band_provenance" so an
inflated band can be audited and reset after a fix.

The per-query 1.0s gate cutoff leaves sub-second queries individually
unguarded, so each merge also maintains "sub_cutoff_band": the [lo, hi]
of SUM over sub-floor queries per run — bench.py gates that sum as one
quantity.

Both bench tiers merge the same way: the headline `queries` into the
unprefixed keys, and `tier2_queries` (all-registry sf0.01, present
when the bench ran with SPARK_GRAFT_BENCH_ALL=1) into the same keys
prefixed `tier2_`. Every tier a bench output carries is merged.

Usage:
    [SPARK_GRAFT_BENCH_ALL=1] python tools/bench_bands.py [--runs 3]
        [--baseline BASELINE_BENCH.json] [--from-json BENCH.json ...]
        [--allow-inflated] [--write]

--from-json merges already-recorded bench output files (one run each)
instead of re-running the bench. Without --write, prints the merged
result to stdout only.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from bench_compare import CUTOFF, RATIO

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench_once(env: dict) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=3600,
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def load_run(path: str) -> dict:
    """One recorded bench output, unwrapped from a wrapper's "parsed" key."""
    with open(path) as f:
        d = json.load(f)
    if "parsed" in d and "queries" in d.get("parsed", {}):
        return d["parsed"]
    return d


def merge_bands(
    base: dict,
    runs: list[dict[str, float]],
    source: str,
    allow_inflated: bool = False,
    prefix: str = "",
) -> dict:
    """Merge per-query [lo, hi] bands from ``runs`` into ``base``
    (a BASELINE_BENCH document) in place, and return it. ``prefix``
    picks the tier: "" for the headline keys, "tier2_" for the tier2
    ones (``tier2_queries``, ``tier2_bands``, ...).

    Floors and band lows move down unconditionally (a better
    measurement). Band highs widen ONLY while they stay un-gateable
    (<= RATIO x floor, or sub-CUTOFF absolute): a high past both is
    exactly the time the gate exists to flag, so merging it would
    permanently excuse a live regression — such highs are skipped
    (and recorded in provenance) unless ``allow_inflated``."""
    names = sorted(set().union(*[set(r) for r in runs]))
    floors = base.setdefault(prefix + "queries", {})
    old_bands = base.get(prefix + "bands", {})
    capped: list[str] = []
    new_bands = dict(old_bands)
    for n in names:
        lo = min(r[n] for r in runs if n in r)
        hi = max(r[n] for r in runs if n in r)
        if n not in floors or lo < floors[n]:
            floors[n] = round(lo, 3)
        if n not in old_bands:
            # first sighting: the fresh [lo, hi] IS the only healthy
            # baseline this query has — seeding [lo, lo] and then
            # refusing the same-run high as "inflated" (the r7 shape)
            # bakes an over-tight band that false-fails the next gate
            # run (ADVICE r7)
            new_bands[n] = [round(lo, 3), round(hi, 3)]
            continue
        band = list(old_bands[n])
        band[0] = min(band[0], lo)
        gateable = hi > RATIO * floors[n] and hi >= CUTOFF
        if hi > band[1]:
            if gateable and not allow_inflated:
                capped.append(n)
            else:
                band[1] = hi
        new_bands[n] = [round(band[0], 3), round(band[1], 3)]
    base[prefix + "bands"] = new_bands
    base[prefix + "band_runs"] = base.get(prefix + "band_runs", 0) + len(runs)
    # the headline total's key predates the tier prefixes
    base[prefix + "total" if prefix else "total_sec"] = round(sum(floors.values()), 3)

    # sub-cutoff SUM band (the aggregate the per-query cutoff skips):
    # per run, sum over queries whose FLOOR is sub-cutoff; the sum
    # band merges monotonically on the low side and with the same
    # inflation guard on the high side (vs RATIO x the floor sum).
    sub_names = sorted(n for n, f in floors.items() if f < CUTOFF)
    sub_sums = [
        sum(r[n] for n in sub_names if n in r)
        for r in runs
        if any(n in r for n in sub_names)
    ]
    if sub_sums:
        floor_sum = sum(floors[n] for n in sub_names)
        old = base.get(prefix + "sub_cutoff_band") or [min(sub_sums), min(sub_sums)]
        # membership moved since the band was recorded (a floor crossed
        # the cutoff, or new queries landed) → the recorded spread was
        # measured over a DIFFERENT query set; restart the band from
        # this run set instead of merging incomparable sums (ADVICE r7)
        if base.get(prefix + "sub_cutoff_members") != sub_names:
            old = [min(sub_sums), min(sub_sums)]
        hi = max(sub_sums)
        # high guard mirrors BOTH gate criteria (ratio AND the
        # absolute-delta jitter excusal): a high the gate would never
        # flag must not be refused, or legitimate spread is lost
        if (
            hi > old[1]
            and hi > RATIO * floor_sum
            and hi - floor_sum >= CUTOFF
            and not allow_inflated
        ):
            capped.append("sub_cutoff_sum")
            hi = old[1]
        base[prefix + "sub_cutoff_band"] = [
            round(min(old[0], *sub_sums), 3),
            round(max(old[1], hi), 3),
        ]
        # freeze the membership the band was measured over — the gate
        # recomputing membership from CURRENT floors would compare a
        # differently-composed sum against this band
        base[prefix + "sub_cutoff_members"] = sub_names

    base.setdefault(prefix + "band_provenance", []).append(
        {
            "source": source,
            "at": time.strftime("%Y-%m-%d %H:%M:%S"),
            "runs": len(runs),
            "run_totals": [round(sum(r.values()), 3) for r in runs],
            "capped_inflated_highs": capped,
        }
    )
    if capped:
        print(
            f"WARNING: inflated {prefix}band highs NOT merged (past "
            f"{RATIO}x floor and the {CUTOFF}s cutoff): {capped} — "
            "fix the regression or re-run with --allow-inflated",
            file=sys.stderr,
        )
    return base


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--baseline", default=os.path.join(REPO, "BASELINE_BENCH.json")
    )
    ap.add_argument(
        "--from-json",
        nargs="+",
        default=None,
        help="merge these recorded bench outputs instead of re-running",
    )
    ap.add_argument("--allow-inflated", action="store_true")
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()

    if args.from_json:
        docs = [load_run(p) for p in args.from_json]
        source = ",".join(os.path.basename(p) for p in args.from_json)
    else:
        env = dict(os.environ)
        docs = []
        for i in range(args.runs):
            d = run_bench_once(env)
            docs.append(d)
            print(
                f"run {i + 1}/{args.runs}: total {sum(d['queries'].values()):.1f}s",
                file=sys.stderr,
            )
        source = "bench.py"

    with open(args.baseline) as f:
        base = json.load(f)
    for prefix in ("", "tier2_"):
        runs = [d[prefix + "queries"] for d in docs if prefix + "queries" in d]
        if runs:
            merge_bands(
                base, runs, source, allow_inflated=args.allow_inflated, prefix=prefix
            )

    text = json.dumps(base, indent=1)
    if args.write:
        with open(args.baseline, "w") as f:
            f.write(text + "\n")
        print(f"wrote {args.baseline}", file=sys.stderr)
    else:
        print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
