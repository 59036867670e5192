"""Batch part of the ``pipeline`` workload: registry queries, built
then forced.

Each query is built (the registry builder, including any jobs the
builder runs eagerly) and then forced with the ``noop`` write that
``bench.py`` uses. The list is fixed; the seed fixes only the order.
After each query of the first pass is timed, its result is collected,
outside the timer, and hashed against the query's DuckDB oracle.

The *curation* group is heavy on shuffles and on jobs run inside the
builders; the *analytics* group is JVM-only scans, joins and windows.
"""

from __future__ import annotations

import time
from collections import defaultdict

import duckdb
import numpy as np

from harness import median

# Seven of the 24 queries the benchmark was specified with: the two
# curation rows with the most builder-side jobs (dedup_clusters,
# embedding_power_iteration), the one-scan Bloom bitmap, and four
# JVM-only analytics rows. The other 17 are left out because one cold
# pass over all 24 plus its check takes about 60 s on a 4-CPU host,
# more than a run of this benchmark can spend.
CURATION = "dedup_clusters embedding_power_iteration bloom_semi_join".split()
ANALYTICS = "ingest_upsert cdc_merge events_funnel q1_pricing_summary".split()
QUERIES = CURATION + ANALYTICS


class BatchQueries:
    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        from strava_data_pipeline_spark.plans import registry
        from strava_data_pipeline_spark.sources.catalog import TABLES

        self.builders = registry.all_queries()
        self.oracles = registry.all_oracles()
        missing = [q for q in QUERIES if q not in self.builders or q not in self.oracles]
        if missing:
            raise KeyError(f"registry lacks query or oracle for {missing}")
        perm = np.random.default_rng(self.ctx.seed).permutation(len(QUERIES))
        self.order = [QUERIES[i] for i in perm]
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.ctx.sf_dir}/{t}.parquet'")

    def warm_up(self) -> None:
        """Nothing beyond the session warm-up: a batch job pays plan
        compilation in every fresh JVM, so the first pass is timed."""
        self.build_s: dict[str, list[float]] = defaultdict(list)
        self.action_s: dict[str, list[float]] = defaultdict(list)
        self.results = {}
        self.op_s: list[float] = []
        self.attempted = self.failed = 0

    def step(self) -> list[float]:
        """One pass over the list; returns its timed seconds. The first
        pass also collects each result for the check, after the timer."""
        ctx, tr = self.ctx, self.ctx.tracer
        timed_s = 0.0
        for q in self.order:
            self.attempted += 1
            try:
                with tr.group(f"plans.{q}"), tr.span(f"plans.{q}"):
                    t0 = time.perf_counter()
                    with tr.span("plans.build"):
                        df = self.builders[q](ctx.spark, ctx.sf_dir)
                    t1 = time.perf_counter()
                    with tr.span("plans.action"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                timed_s += t2 - t0
                self.build_s[q].append(t1 - t0)
                self.action_s[q].append(t2 - t1)
                if q not in self.results:
                    with tr.group("perfbench.check"), tr.span(f"check.{q}"):
                        self.results[q] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # a failed query counts, the pass goes on
                self.failed += 1
                ctx.log(f"query {q} failed: {e!r}")
            finally:
                ctx.spark.catalog.clearCache()
        self.op_s.append(timed_s)
        return [timed_s]

    def check(self, table_hash) -> int:
        """Queries whose first result differs from the DuckDB oracle."""
        bad = 0
        for q, (cols, rows) in self.results.items():
            rel = self.con.sql(self.oracles[q])
            dcols = [c.lower() for c in rel.columns]
            drows = rel.fetchall()
            scols = [c.lower() for c in cols]
            ok = (
                sorted(scols) == sorted(dcols)
                and len(rows) == len(drows)
                and table_hash(scols, rows) == table_hash(dcols, drows)
            )
            if not ok:
                bad += 1
                self.ctx.log(f"oracle mismatch: {q}")
        self.checked = len(self.results)
        return bad

    def _q_s(self, q: str) -> float:
        return median(self.build_s[q]) + median(self.action_s[q])

    def named(self) -> dict[str, float]:
        cur = sum(self._q_s(q) for q in CURATION)
        ana = sum(self._q_s(q) for q in ANALYTICS)
        return {"batch_total_s": cur + ana, "batch_curation_s": cur, "batch_analytics_s": ana}

    def in_group(self, group: str) -> bool:
        return group.startswith("plans.")

    def layers(self, work) -> dict[str, float]:
        out = {}
        for q in QUERIES:
            out[f"plans.{q}.build_s"] = median(self.build_s[q])
            out[f"plans.{q}.action_s"] = median(self.action_s[q])
            w = work.get(f"plans.{q}")
            out[f"plans.{q}.jobs"] = (w.jobs if w else 0) / max(len(self.op_s), 1)
        return out
