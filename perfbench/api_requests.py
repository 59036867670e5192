"""Workload ``api_requests``: the reference's REST surface.

One client runs a closed loop over ``PipelineService.authorized_call``:
it sends the next request only after the previous one returned. The
seeded mix is ``get_activity`` (Zipf-skewed ids), ``list_activities``
(offset pages), ``list_activities_after`` (keyset pages, each continuing
from the previous one), ``get_user_by_id``, ``keys_for_user`` and
``sync_window``, in equal shares (an assumed mix; see ``datagen``). Half the requests carry an API key, half a ``Bearer``
JWT. A request is the facade call plus ``collect()`` of its DataFrame.

Sampled responses are checked against DuckDB over the same parquet
files after the timed loop.
"""

from __future__ import annotations

import time
from collections import defaultdict

import duckdb
import numpy as np

import datagen
from harness import median, percentile, sum_work

SF = 0.1
N_KEY_USERS = 50
CHECK_PER_ENDPOINT = 4
CHECK_EVERY = 10
MAX_PAGES = 200
WARM_BLOCKS = 3

_EVENT_COLS = "event_id, ts, user_id, event_type, value, props"


def _key_for(seed: int, uid: int) -> str:
    return f"pbk-{seed}-{uid:06d}"


class ApiRequests:
    sf = SF

    def __init__(self, ctx):
        self.ctx = ctx

    # -- inputs, all made before timing -----------------------------------
    def prepare(self) -> None:
        from strava_data_pipeline_spark.api.service import PipelineService

        ctx = self.ctx
        self.con = duckdb.connect()
        for t in ("events", "customer"):
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{ctx.sf_dir}/{t}.parquet'")
        n_events = self.con.sql("SELECT count(*) FROM events").fetchone()[0]
        n_users = self.con.sql("SELECT count(*) FROM customer").fetchone()[0]
        self.key_users = sorted(
            int(u)
            for u in np.random.default_rng(ctx.seed).choice(n_users, N_KEY_USERS, replace=False)
        )
        self.svc = PipelineService(ctx.spark, ctx.sf_dir)
        for uid in self.key_users:
            self.svc.create_api_key(f"user {uid}", user_id=uid, key=_key_for(ctx.seed, uid))
        n_pages = min(MAX_PAGES, n_events // datagen.PAGE)
        self.requests = datagen.request_mix(
            ctx.seed, 20000, n_events, n_users, n_pages, self.key_users
        )
        # keyset cursors: page p continues after row p*PAGE-1 of the
        # (ts DESC, event_id DESC) order
        cur = self.con.sql(
            f"SELECT ts, event_id FROM events ORDER BY ts DESC, event_id DESC "
            f"LIMIT {n_pages * datagen.PAGE}"
        ).fetchall()
        self.cursors = {p: cur[p * datagen.PAGE - 1] for p in range(1, n_pages)}
        self.creds = []
        for i, (_ep, _arg, auth) in enumerate(self.requests):
            uid = self.key_users[i % len(self.key_users)]
            self.creds.append(
                _key_for(ctx.seed, uid) if auth == "key" else "Bearer " + self.svc.generate_jwt(uid)
            )

    def _call(self, ep: str, arg):
        svc = self.svc
        if ep == "get_activity":
            return svc.get_activity(arg)
        if ep == "list_activities":
            return svc.list_activities(limit=datagen.PAGE, offset=arg)
        if ep == "list_activities_after":
            ts, eid = self.cursors[arg]
            return svc.list_activities_after(ts, eid, limit=datagen.PAGE)
        if ep == "get_user_by_id":
            return svc.get_user_by_id(arg)
        if ep == "keys_for_user":
            return svc.keys_for_user(arg)
        return svc.sync_window(days=arg)

    def _request(self, i: int):
        ep, arg, _auth = self.requests[i % len(self.requests)]
        tr = self.ctx.tracer
        holder = {}

        def handler(_uid):
            with tr.span("api.plan"):
                df = self._call(ep, arg)
            with tr.span("api.collect"):
                rows = df.collect()
            holder["cols"] = df.columns
            return rows

        with tr.group(f"{self.group_prefix}{ep}"), tr.span(f"api.{ep}"):
            rows = self.svc.authorized_call(self.creds[i % len(self.creds)], handler)
        return ep, arg, holder["cols"], rows

    def warm_up(self) -> None:
        """``WARM_BLOCKS`` untimed blocks from the end of the generated
        list (request latency keeps falling over the first ~50 requests
        of a fresh JVM); then give the ``load_table`` calls the facade
        makes their own span."""
        import strava_data_pipeline_spark.api.service as service

        self.group_prefix = "perfbench.warm."
        n = len(self.requests)
        for i in range(n - WARM_BLOCKS * datagen.BLOCK_LEN, n):
            self._request(i)
        self.group_prefix = "api."
        self.ctx.tracer.reset()
        self.ctx.tracer.wrap(service, "load_table", "sources.catalog.load_table")
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.op_s: list[float] = []
        self.samples = []
        self.attempted = self.failed = 0

    # -- timed closed loop ------------------------------------------------
    def step(self) -> list[float]:
        """One block of requests, so every run measures the same mix.
        Returns the latency of each request that succeeded."""
        out = []
        for i in range(self.attempted, self.attempted + datagen.BLOCK_LEN):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                ep, arg, cols, rows = self._request(i)
            except Exception as e:  # a failed request counts, the loop goes on
                self.failed += 1
                self.ctx.log(f"request {i} failed: {e!r}")
                continue
            dt = time.perf_counter() - t0
            self.lat[ep].append(dt)
            out.append(dt)
            if len(self.lat[ep]) <= CHECK_PER_ENDPOINT or i % CHECK_EVERY == 0:
                self.samples.append((ep, arg, cols, [tuple(r) for r in rows]))
        self.op_s += out
        return out

    # -- correctness, after timing ----------------------------------------
    def _expected(self, ep: str, arg):
        if ep == "get_activity":
            sql = f"SELECT {_EVENT_COLS} FROM events WHERE event_id = {arg}"
        elif ep == "list_activities":
            sql = (
                f"SELECT {_EVENT_COLS} FROM events ORDER BY ts DESC, event_id DESC "
                f"LIMIT {datagen.PAGE} OFFSET {arg}"
            )
        elif ep == "list_activities_after":
            ts, eid = self.cursors[arg]
            sql = (
                f"SELECT {_EVENT_COLS} FROM events WHERE ts < $ts OR (ts = $ts AND "
                f"event_id < {eid}) ORDER BY ts DESC, event_id DESC LIMIT {datagen.PAGE}"
            )
            rel = self.con.execute(sql, {"ts": ts})
            return [d[0] for d in rel.description], rel.fetchall()
        elif ep == "get_user_by_id":
            sql = (
                "SELECT c_custkey AS user_id, c_name AS username, "
                f"c_custkey + 10000000 AS athlete_id FROM customer WHERE c_custkey = {arg}"
            )
        else:
            sql = (
                f"SELECT {_EVENT_COLS} FROM events WHERE ts >= "
                f"(SELECT max(ts) FROM events) - INTERVAL {arg} DAY"
            )
        rel = self.con.sql(sql)
        return rel.columns, rel.fetchall()

    def check(self, table_hash) -> int:
        """Number of sampled responses that differ from the oracle."""
        bad = 0
        for ep, arg, cols, rows in self.samples:
            if ep == "keys_for_user":
                got = sorted((r[cols.index("key")], r[cols.index("user_id")]) for r in rows)
                ok = got == [(_key_for(self.ctx.seed, arg), arg)]
            else:
                ecols, erows = self._expected(ep, arg)
                ok = (
                    sorted(cols) == sorted(ecols)
                    and len(rows) == len(erows)
                    and table_hash(list(cols), rows) == table_hash(list(ecols), erows)
                )
            if not ok:
                bad += 1
                self.ctx.log(f"wrong response: {ep}({arg})")
        self.checked = len(self.samples)
        return bad

    # -- metrics ----------------------------------------------------------
    def named(self) -> dict[str, float]:
        return {
            "api_p50_ms": median(self.op_s) * 1e3,
            "api_p95_ms": percentile(self.op_s, 95) * 1e3,
            "api_req_per_s": len(self.op_s) / max(sum(self.op_s), 1e-9),
        }

    def in_group(self, group: str) -> bool:
        return group.startswith("api.")

    def layers(self, work) -> dict[str, float]:
        tr = self.ctx.tracer
        n = max(len(self.op_s), 1)
        api = sum_work(work, self.in_group)
        out = {f"api.{ep}.p50_ms": median(self.lat[ep]) * 1e3 for ep in datagen.ENDPOINTS}
        out["api.plan_ms"] = median(tr.durations("api.plan")) * 1e3
        out["api.collect_ms"] = median(tr.durations("api.collect")) * 1e3
        out["api.jobs_per_request"] = api.jobs / n
        out["api.input_rows_per_request"] = api.input_rows / n
        out["sources.catalog.load_table_ms"] = (
            median(tr.durations("sources.catalog.load_table")) * 1e3
        )
        return out
