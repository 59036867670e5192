"""Compare two bench JSON outputs per query.

Usage:
    python tools/bench_compare.py BASELINE_BENCH.json BENCH_rN.json [ratio]

Accepts either the raw one-line bench output or the driver's wrapper
(with a "parsed" key) or BASELINE_BENCH.json (with "queries" at top
level). Flags queries slower than `ratio`× the baseline (default 1.5)
and prints totals. Exit code 1 if any query regresses past the ratio.

If the baseline file carries per-query "bands" ([lo, hi] over repeated
runs, written by tools/bench_bands.py), a query only regresses when it
is BOTH past ratio×floor AND above its recorded band high — observed
run-to-run variance (contended driver runs, compile-position jitter on
sub-second queries) stops counting as a plan regression.
"""

from __future__ import annotations

import json
import sys

# The regression gate's constants, shared by bench.py's gate and
# bench_bands.py's merge guard: a query regresses past RATIO x its
# floor; times under CUTOFF seconds are jitter, not plan regressions;
# a recorded band high excuses times up to BAND_MARGIN x itself.
RATIO = 1.5
CUTOFF = 1.0
BAND_MARGIN = 1.25


def _load(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    if "queries" in d:
        return d
    if "parsed" in d and "queries" in d["parsed"]:
        return d["parsed"]
    raise SystemExit(f"{path}: no 'queries' key found")


def _queries(path: str) -> dict[str, float]:
    return _load(path)["queries"]


def compare(
    base: dict[str, float],
    cur: dict[str, float],
    ratio: float = RATIO,
    min_abs_sec: float = 0.0,
    bands: dict[str, list[float]] | None = None,
    band_margin: float = BAND_MARGIN,
) -> list[str]:
    """Names of queries slower than ``ratio``× their baseline.
    ``min_abs_sec`` ignores sub-threshold absolute times — a 0.1s query
    jittering to 0.2s is scheduler noise, not a plan regression.
    ``bands`` (per-query [lo, hi] from repeated runs) additionally
    excuses any time at or below ``band_margin``× the recorded
    high-water mark: a finite sample of runs underestimates the true
    spread (r6 measured three IDENTICAL-code full-bench runs flagging
    three disjoint query sets, run totals varying 8%), and the gate
    exists to catch sustained 1.5×+ plan regressions, not per-run
    machine noise a hair past the sampled maximum."""
    bands = bands or {}

    def regressed(n: str, c: float) -> bool:
        if n not in base or c <= ratio * base[n] or c < min_abs_sec:
            return False
        band = bands.get(n)
        return band is None or c > band[1] * band_margin

    return [n for n, c in cur.items() if regressed(n, c)]


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    base_doc = _load(sys.argv[1])
    base = base_doc["queries"]
    cur = _queries(sys.argv[2])
    ratio = float(sys.argv[3]) if len(sys.argv) > 3 else RATIO

    regressed = set(compare(base, cur, ratio, bands=base_doc.get("bands")))
    for name in sorted(cur):
        b = base.get(name)
        c = cur[name]
        if b is None:
            print(f"  new     {name:32s} {c:8.2f}s")
        else:
            mark = f"  REGRESSED >{ratio}x" if name in regressed else ""
            print(f"  {c / b:5.2f}x  {name:32s} {c:8.2f}s  (base {b:.2f}s){mark}")
    common = [n for n in cur if n in base]
    print(
        f"common totals: {sum(cur[n] for n in common):.1f}s now "
        f"vs {sum(base[n] for n in common):.1f}s baseline "
        f"({len(common)} queries; {len(cur) - len(common)} new)"
    )
    if regressed:
        print(f"regressions: {sorted(regressed)}")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
