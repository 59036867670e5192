"""Compare two sets of benchmark records.

    python3 perfbench/compare.py BASE_RECORD... -- NEW_RECORD...

Each record is a JSON file that ``run.py`` writes to
``.perfbench/records/``. For every end-to-end metric the script prints
each side's median and quartiles and the change of the medians. It
refuses to compare records taken on different core counts, scale
factors, Spark versions or workloads.

A trace-1 record keeps, under ``e2e``, the end-to-end values measured
with tracing on, so comparing trace-0 records (base) with trace-1
records (new) of one workload gives the tracing overhead.
"""

from __future__ import annotations

import json
import statistics
import sys

MUST_MATCH = ("workload", "cpus", "sf", "spark")


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def summary(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], statistics.median(values), q[2]


def compare(base: list[dict], new: list[dict]) -> list[str]:
    facts = {tuple(r["facts"][k] for k in MUST_MATCH) for r in base + new}
    if len(facts) != 1:
        raise SystemExit(
            f"refusing to compare records with different {MUST_MATCH}: {sorted(facts)}"
        )
    lines = [f"{'metric':16s} {'base q1/med/q3':>30s} {'new q1/med/q3':>30s} {'change':>8s}"]
    for name in sorted(base[0]["e2e"]):
        b = summary([r["e2e"][name] for r in base])
        n = summary([r["e2e"][name] for r in new])
        change = (n[1] - b[1]) / b[1] if b[1] else float("nan")
        lines.append(
            f"{name:16s} {'/'.join(f'{v:.4g}' for v in b):>30s} "
            f"{'/'.join(f'{v:.4g}' for v in n):>30s} {change:+8.1%}"
        )
    return lines


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1 :])
    if not base or not new:
        print("need at least one record on each side", file=sys.stderr)
        return 2
    print("\n".join(compare(base, new)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
