"""Seeded inputs for the benchmark.

Two kinds of input are generated here, both with numpy + pyarrow and no
Spark, so generation never counts as work of the program under test:

* ``build_tables``: the ten catalog tables (``sources.catalog.TABLES``)
  at a scale factor, shaped like the repository's test data (TPC-H-ish
  star schema, an ``events`` activity table, ``documents`` with 5 %
  near-duplicates, 64-d unit ``embeddings``). The tables come from a
  fixed data seed and are cached per scale factor, so every run of a
  workload reads the same files; the run seed only drives what the
  workloads do with them.
* ``request_mix``, ``event_batches``, ``doc_batches``: the per-run
  inputs (API requests, landed stream batches), drawn from the run seed
  before any timing starts.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EVENT_EPOCH = datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86400 * 10**6

_ADJ = ["small", "red", "blue", "cold", "hot", "new", "old", "green"]
_NOUN = ["ring", "widget", "plate", "gear", "rod", "bolt", "anvil", "spring"]


def _ts_us(epoch: datetime, offsets_us: np.ndarray, tz: str | None = None) -> pa.Array:
    base = int((epoch - datetime(1970, 1, 1)).total_seconds()) * 10**6
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us", tz=tz))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
                n_cust,
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts_us(datetime(1995, 1, 1), order_days * 86400 * 10**6),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    l_order = rng.integers(0, n_ord, n_line)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _ts_us(
                datetime(1995, 1, 1),
                (order_days[l_order] + rng.integers(1, 122, n_line)) * 86400 * 10**6,
            ),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts_us(
                EVENT_EPOCH, np.sort(rng.integers(0, EVENT_SPAN_US, n_ev))
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [_doc_text(rng, int(k)) for k in rng.integers(8, 100, n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def build_tables(root: str, sf: float) -> str:
    """Write (once) the tables for ``sf`` under ``root``; return the dir.

    A finished directory carries a ``_DONE`` marker, so a run that was
    killed half-way through writing is regenerated, never read."""
    out = os.path.join(root, f"sf{sf}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


# -- per-run inputs -----------------------------------------------------------

ENDPOINTS = (
    "get_activity",
    "list_activities",
    "list_activities_after",
    "get_user_by_id",
    "keys_for_user",
    "sync_window",
)
# One block of the mix; every block holds these counts in seeded order.
# No request log of the reference's routes exists to take a mix from,
# so the mix is uniform over the endpoints: an assumption, not observed
# traffic. So is the Zipf exponent of the get_activity ids.
_BLOCK = (2,) * len(ENDPOINTS)
BLOCK_LEN = sum(_BLOCK)
ZIPF_A = 1.2
PAGE = 20


def request_mix(
    seed: int, n: int, n_events: int, n_users: int, n_pages: int, key_users: list[int]
):
    """``n`` API requests as ``(endpoint, arg, auth)`` tuples.

    The endpoint mix is the same in every block of ``BLOCK_LEN``
    requests, only its order is seeded, so every run sees the same mix.
    ``get_activity`` ids are Zipf-skewed over a seeded permutation of the
    event ids; ``list_activities_after`` args are page numbers of one
    keyset walk that continues page after page (the caller resolves each
    page number to the cursor row before timing); ``auth`` alternates
    between ``"key"`` and ``"jwt"``."""
    rng = np.random.default_rng(seed)
    perm = rng.permutation(n_events)
    block = np.repeat(np.arange(len(ENDPOINTS)), _BLOCK)
    kinds = np.concatenate(
        [rng.permutation(block) for _ in range(-(-n // len(block)))]
    )[:n]
    out = []
    next_page = 1
    for i, k in enumerate(kinds):
        ep = ENDPOINTS[k]
        if ep == "get_activity":
            arg = int(perm[min(int(rng.zipf(ZIPF_A)) - 1, n_events - 1)])
        elif ep == "list_activities":
            arg = int(rng.integers(0, n_pages // 4)) * PAGE
        elif ep == "list_activities_after":
            arg = next_page
            next_page = next_page + 1 if next_page < n_pages - 1 else 1
        elif ep == "get_user_by_id":
            arg = int(rng.integers(0, n_users))
        elif ep == "keys_for_user":
            arg = int(key_users[int(rng.integers(0, len(key_users)))])
        else:
            arg = 1  # days; the reference syncs the last day
        out.append((ep, arg, "key" if i % 2 == 0 else "jwt"))
    return out


def event_batches(seed: int, n_batches: int, new_per_batch: int, fix_per_batch: int):
    """Landed activity batches: new events plus re-sent corrections of
    earlier events. A correction keeps its event's ``ts`` (the sync
    target is day-partitioned on it) and changes type and value."""
    rng = np.random.default_rng(seed)
    batches = []
    landed_ids: list[np.ndarray] = []
    landed_ts: list[np.ndarray] = []
    next_id = 0
    for b in range(n_batches):
        ids = np.arange(next_id, next_id + new_per_batch)
        next_id += new_per_batch
        ts = rng.integers(0, EVENT_SPAN_US, new_per_batch)
        if landed_ids:
            all_ids = np.concatenate(landed_ids)
            all_ts = np.concatenate(landed_ts)
            pick = rng.choice(len(all_ids), min(fix_per_batch, len(all_ids)), replace=False)
            ids = np.concatenate([ids, all_ids[pick]])
            ts = np.concatenate([ts, all_ts[pick]])
        landed_ids.append(ids[:new_per_batch])
        landed_ts.append(ts[:new_per_batch])
        n = len(ids)
        batches.append(
            pa.table(
                {
                    "event_id": pa.array(ids, pa.int64()),
                    "ts": _ts_us(EVENT_EPOCH, ts, tz="UTC"),
                    "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
                    "event_type": rng.choice(EVENT_TYPES, n),
                    "value": np.round(rng.exponential(50.0, n), 2) + b,
                }
            )
        )
    return batches


def doc_batches(seed: int, n_batches: int, fresh_per_batch: int, planted_per_batch: int):
    """Landed document batches. From the second batch on, each carries
    planted exact copies and near copies (one word appended) of fresh
    documents from earlier batches, under new ids.

    Returns ``(batches, exact_ids, near_ids)``."""
    rng = np.random.default_rng(seed)
    batches = []
    fresh: list[str] = []
    exact_ids: list[int] = []
    near_ids: list[int] = []
    next_id = 0
    for _ in range(n_batches):
        ids, texts = [], []
        for _ in range(fresh_per_batch):
            ids.append(next_id)
            texts.append(_doc_text(rng, int(rng.integers(30, 90))))
            next_id += 1
        if fresh:
            for j in range(planted_per_batch):
                src = fresh[int(rng.integers(0, len(fresh)))]
                ids.append(next_id)
                if j % 2 == 0:
                    texts.append(src)
                    exact_ids.append(next_id)
                else:
                    texts.append(src + " " + WORDS[int(rng.integers(0, len(WORDS)))])
                    near_ids.append(next_id)
                next_id += 1
        fresh.extend(texts[:fresh_per_batch])
        order = rng.permutation(len(ids))
        batches.append(
            pa.table(
                {
                    "doc_id": pa.array(np.array(ids)[order], pa.int64()),
                    "text": [texts[i] for i in order],
                }
            )
        )
    return batches, exact_ids, near_ids
