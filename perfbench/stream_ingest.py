"""Ingest part of the ``pipeline`` workload: the write paths, one batch
in flight.

A round lands one activity batch (new events plus re-sent corrections
of earlier events that keep their ``ts``) and runs it through
``start_incremental_sync``, then lands one document batch (fresh docs
plus planted exact and near copies of earlier ones) and runs it through
``start_minhash_dedup_sink``. Each sink runs ``availableNow`` from its
checkpoint, like the reference's manual sync, and is waited on with a
bound. Landing is the generator's work and is not timed.

One step is one episode on fresh stream roots: round 0 seeds the empty
target and index untimed (in the first episode it also pays the plan
compilation of a fresh JVM), rounds 1.. are timed. After timing, every
episode's sync target is compared with a DuckDB latest-wins recompute
over the landed files, and every planted exact copy must be missing
from the kept docs.
"""

from __future__ import annotations

import os
import time

import duckdb
import pyarrow.parquet as pq

import datagen
from harness import bounded_wait, median, sum_work

ROUNDS = 3
MAX_EPISODES = 8
NEW_EVENTS, FIXES = 2000, 400
FRESH_DOCS, PLANTED = 100, 20
TRIGGER_TIMEOUT_S = 60
PHASES = ("addBatch", "queryPlanning", "walCommit", "latestOffset", "commitOffsets")


def _dir_bytes(path: str, since: float = 0.0) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime >= since and not f.startswith("."):
                total += st.st_size
    return total


def _land(table, landing: str, batch_no: int) -> None:
    """Write one batch where the stream sees it only once complete."""
    os.makedirs(landing, exist_ok=True)
    tmp = os.path.join(landing, f".batch-{batch_no:05d}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(landing, f"batch-{batch_no:05d}.parquet"))


class Episode:
    """One set of stream roots and the batches landed into them."""

    def __init__(self, root: str, seed: int):
        self.root = root
        self.event_tables = datagen.event_batches(seed, ROUNDS, NEW_EVENTS, FIXES)
        self.doc_tables, self.exact_ids, self.near_ids = datagen.doc_batches(
            seed + 1, ROUNDS, FRESH_DOCS, PLANTED
        )
        self.events_dir = os.path.join(root, "events")
        self.docs_dir = os.path.join(root, "docs")
        self.target = os.path.join(root, "target")
        self.sync_ckpt = os.path.join(root, "sync_ckpt")
        self.index = os.path.join(root, "index")
        self.kept = os.path.join(root, "kept")
        self.dedup_ckpt = os.path.join(root, "dedup_ckpt")
        self.rounds_done = 0


class StreamIngest:
    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        """Generate the batches of ``MAX_EPISODES`` episodes up front."""
        base = os.path.join(self.ctx.run_dir, "stream")
        self.pending = [
            Episode(os.path.join(base, f"ep{e:03d}"), self.ctx.seed * 1000 + 2 * e)
            for e in range(MAX_EPISODES)
        ]
        self.episodes: list[Episode] = []

    def warm_up(self) -> None:
        """Nothing to run: round 0 of every episode is untimed."""
        self.trig_s = {"sync": [], "dedup": []}
        self.run_ids = {"sync": set(), "dedup": set()}
        self.progress = {"sync": [], "dedup": []}
        self.target_bytes: list[int] = []
        self.index_bytes: list[int] = []
        self.event_rows = self.doc_rows = 0
        self.attempted = self.failed = 0

    def _trigger(self, start, kind: str):
        t0 = time.perf_counter()
        wall0 = time.time()
        with self.ctx.tracer.span(f"streaming.{kind}"):
            q = start()
            bounded_wait(q, TRIGGER_TIMEOUT_S)
        return time.perf_counter() - t0, wall0, q

    def _round(self, ep: Episode, r: int, timed: bool) -> float:
        from strava_data_pipeline_spark.streaming.dedup_index import (
            read_doc_stream,
            start_minhash_dedup_sink,
        )
        from strava_data_pipeline_spark.streaming.sync import (
            read_event_stream,
            start_incremental_sync,
        )

        spark = self.ctx.spark
        _land(ep.event_tables[r], ep.events_dir, r)
        dt_sync, wall0, q_sync = self._trigger(
            lambda: start_incremental_sync(
                read_event_stream(spark, ep.events_dir), ep.target, ep.sync_ckpt
            ),
            "sync",
        )
        target_bytes = _dir_bytes(ep.target, since=wall0)
        _land(ep.doc_tables[r], ep.docs_dir, r)
        index_before = _dir_bytes(ep.index)
        dt_dedup, _, q_dedup = self._trigger(
            lambda: start_minhash_dedup_sink(
                read_doc_stream(spark, ep.docs_dir), ep.index, ep.kept, ep.dedup_ckpt
            ),
            "dedup",
        )
        ep.rounds_done = r + 1
        if timed:
            for kind, dt, q in (("sync", dt_sync, q_sync), ("dedup", dt_dedup, q_dedup)):
                self.trig_s[kind].append(dt)
                self.run_ids[kind].add(str(q.runId))
                self.progress[kind] += [
                    p for p in q.recentProgress if p.get("numInputRows", 0) > 0
                ]
            self.target_bytes.append(target_bytes)
            self.index_bytes.append(_dir_bytes(ep.index) - index_before)
            self.event_rows += ep.event_tables[r].num_rows
            self.doc_rows += ep.doc_tables[r].num_rows
        return dt_sync + dt_dedup

    def step(self) -> list[float]:
        """One episode; returns the seconds of its timed rounds."""
        if not self.pending:
            raise RuntimeError(f"more than {MAX_EPISODES} episodes in one run")
        ep = self.pending.pop(0)
        self.episodes.append(ep)
        timed_s = 0.0
        for r in range(ROUNDS):
            self.attempted += 1
            try:
                with self.ctx.tracer.span("streaming.round"):
                    dt = self._round(ep, r, timed=r > 0)
            except Exception as e:  # a failed round ends its episode
                self.failed += 1
                self.ctx.log(f"round {r} of {ep.root} failed: {e!r}")
                break
            if r > 0:
                timed_s += dt
        return [timed_s]

    # -- correctness, after timing ----------------------------------------
    def check(self, table_hash) -> int:
        from strava_data_pipeline_spark.streaming.dedup_index import read_kept_docs

        spark = self.ctx.spark
        bad = 0
        self.planted = self.planted_dropped = 0
        self.checked = 0
        for ep in self.episodes:
            if ep.rounds_done == 0:
                continue
            self.checked += 1
            got = [
                tuple(r)
                for r in spark.read.parquet(ep.target)
                .selectExpr("event_id", "unix_micros(ts) AS ts", "user_id", "event_type", "value")
                .collect()
            ]
            want = duckdb.sql(
                f"""
                SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, value FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY event_id ORDER BY ts DESC, filename DESC) AS rn
                  FROM read_parquet('{ep.events_dir}/batch-*.parquet', filename=true))
                WHERE rn = 1
                """
            ).fetchall()
            cols = ["event_id", "ts", "user_id", "event_type", "value"]
            if len(got) != len(want) or table_hash(cols, got) != table_hash(cols, want):
                bad += 1
                self.ctx.log(f"sync target differs from latest-wins recompute in {ep.root}")
            kept = [r[0] for r in read_kept_docs(spark, ep.kept).select("doc_id").collect()]
            kept_set = set(kept)
            landed = {
                i for t in ep.doc_tables[: ep.rounds_done] for i in t.column("doc_id").to_pylist()
            }
            exact = [i for i in ep.exact_ids if i in landed]
            near = [i for i in ep.near_ids if i in landed]
            if len(kept) != len(kept_set) or not kept_set <= landed:
                bad += 1
                self.ctx.log(f"kept docs are not a duplicate-free subset of landed in {ep.root}")
            if any(i in kept_set for i in exact):
                bad += 1
                self.ctx.log(f"a planted exact duplicate was kept in {ep.root}")
            self.planted += len(exact) + len(near)
            self.planted_dropped += sum(1 for i in exact + near if i not in kept_set)
        return bad

    # -- metrics ----------------------------------------------------------
    def named(self) -> dict[str, float]:
        return {
            "sync_trigger_p50_s": median(self.trig_s["sync"]),
            "dedup_trigger_p50_s": median(self.trig_s["dedup"]),
            "ingest_rows_per_s": self.event_rows / max(sum(self.trig_s["sync"]), 1e-9),
            "dedup_docs_per_s": self.doc_rows / max(sum(self.trig_s["dedup"]), 1e-9),
        }

    def in_group(self, group: str) -> bool:
        """Micro-batch jobs run under their stream's run id as job group."""
        return group in self.run_ids["sync"] or group in self.run_ids["dedup"]

    def layers(self, work) -> dict[str, float]:
        out = {}
        for kind in ("sync", "dedup"):
            prog = self.progress[kind]
            for ph in PHASES:
                out[f"streaming.{kind}.{ph}_ms"] = median(
                    [p["durationMs"].get(ph, 0) for p in prog]
                )
            w = sum_work(work, lambda g, ids=self.run_ids[kind]: g in ids)
            out[f"streaming.{kind}.jobs_per_trigger"] = w.jobs / max(len(prog), 1)
        out["streaming.dedup.planted_dropped_ratio"] = self.planted_dropped / max(self.planted, 1)
        out["sources.versioned.index_bytes"] = median(self.index_bytes)
        out["sources.versioned.target_bytes"] = median(self.target_bytes)
        return out
