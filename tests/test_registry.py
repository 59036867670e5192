"""Registry contract: every query runs at sf0.001 with a stable schema;
oracle coverage is declared for all SQL-expressible ops."""

from __future__ import annotations

import pytest

from strava_data_pipeline_spark.plans import registry


@pytest.fixture(scope="module")
def queries():
    return registry.all_queries()


def test_inventory_complete(queries):
    expected = {
        "ingest_upsert", "activity_by_id", "recent_activities", "activities_page",
        "sync_window", "sync_daily_counts", "api_key_validate", "keys_per_user",
        "user_activity_join", "athlete_weekly_summary", "athlete_type_stats",
        "json_flatten", "q1_pricing_summary", "q3_shipping_priority",
        "q5_local_supplier", "top_customers_by_revenue", "order_priority_count",
        "parts_brand_stats", "events_sessionize", "events_running_total",
        "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard",
        "dedup_embedding", "ann_topk", "ann_lsh", "lang_id", "text_quality",
        "token_count", "doc_fingerprint", "multimodal_meta",
    }
    assert expected <= set(queries)


def test_bench_tag_is_the_baseline_set():
    # the registry's "bench" tag is the only list of headline queries:
    # bench.py iterates it, and it must name exactly the queries the
    # recorded floors cover
    import json
    import os

    bench_names = registry.tagged("bench")
    assert len(bench_names) == len(set(bench_names))
    assert set(bench_names) <= set(registry.REGISTRY)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BASELINE_BENCH.json")) as f:
        floors = json.load(f)["queries"]
    assert set(bench_names) == set(floors)
    assert len(bench_names) == 158


def test_every_query_has_oracle(queries):
    # since r5 even the sketch queries carry oracles: their registry
    # artifacts emit exact anchor columns + an in-tolerance flag, so
    # every registered query is full-hash driver-checkable
    oracles = registry.all_oracles()
    assert set(oracles) == set(queries)


@pytest.mark.parametrize("name", sorted(registry.all_queries()))
def test_query_runs(spark, sf_dir, name, queries):
    df = queries[name](spark, sf_dir)
    assert df.columns, f"{name} has no columns"
    assert df.count() >= 0


def test_key_lifecycle_semantics(spark, sf_dir, queries):
    # planted-fixture contract: deactivated keys (user id ending 4)
    # survive with is_active=false — so validation rejects them;
    # deleted keys (id ending 5) are gone; created keys (id ending 3)
    # coexist with the user's original key.
    rows = queries["key_lifecycle"](spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"] % 10, []).append(r)
    assert all(not r["is_active"] for r in by_user[4])
    assert 5 not in by_user, "deleted keys must be tombstoned out"
    n_with_new_key = len(by_user[3])
    n_baseline = len(by_user[1])
    assert n_with_new_key == 2 * n_baseline, "create batch adds a second key"


def test_user_upsert_semantics(spark, sf_dir, queries):
    rows = {r["id"]: r for r in queries["user_upsert"](spark, sf_dir).collect()}
    assert rows[7]["username"].endswith("_renamed")
    assert not rows[8]["username"].endswith("_renamed")
    assert 1000100 in rows and rows[1000100]["username"] == "new_user_100"


def test_corpus_pack_bins_property(spark, sf_dir, queries):
    # every (shard, bin)'s token sum stays under budget + the max doc
    # length (start-offset binning: only the straddling doc overflows),
    # and bins are contiguous from 0 within each shard
    rows = queries["corpus_pack_bins"](spark, sf_dir).collect()
    budget = 2048
    max_doc = max(r["n_tokens"] for r in rows)
    sums: dict[tuple, int] = {}
    shard_bins: dict[int, set] = {}
    for r in rows:
        sums[(r["shard"], r["bin"])] = sums.get((r["shard"], r["bin"]), 0) + r["n_tokens"]
        shard_bins.setdefault(r["shard"], set()).add(r["bin"])
    assert all(s <= budget + max_doc for s in sums.values())
    for bins in shard_bins.values():
        assert bins == set(range(len(bins)))


def test_embedding_quantize_roundtrip(spark, sf_dir, queries):
    rows = queries["embedding_quantize"](spark, sf_dir).collect()
    for r in rows[:50]:
        q = [int(x) for x in r["q"].split(",")]  # canonical CSV form
        assert max(abs(v) for v in q) == 127  # max-abs maps to ±127
        assert all(-127 <= v <= 127 for v in q)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_bench_emit_writes_loss_proof_file(tmp_path, monkeypatch, capsys):
    # the stdout JSON line is the driver contract; the file copy must
    # hold the identical payload so a clipped stdout tail loses nothing
    import json

    import bench

    target = tmp_path / "bench_out.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_FILE", str(target))
    payload = {"metric": "headline_queries_total", "value": 1.5,
               "unit": "sec", "queries": {"q1_pricing_summary": 1.5}, "sf": 0.1}
    bench.emit(payload)
    printed = json.loads(capsys.readouterr().out.strip())
    on_disk = json.loads(target.read_text())
    assert printed == on_disk == payload


def test_regression_gate_compare_logic(tmp_path):
    # the gate flags only real regressions: >1.5x the floor AND above
    # the absolute-jitter cutoff; new queries and faster queries pass
    import json

    import bench

    floor = {"queries": {"a": 10.0, "b": 2.0, "c": 0.1}}
    fp = tmp_path / "floor.json"
    fp.write_text(json.dumps(floor))
    # a regressed (20s > 1.5*10), b improved, c doubled but sub-cutoff,
    # d is new (no floor -> not a regression)
    assert bench.gate({"a": 20.0, "b": 1.0, "c": 0.2, "d": 5.0}, str(fp)) == 1
    assert bench.gate({"a": 10.1, "b": 1.0, "c": 0.2, "d": 5.0}, str(fp)) == 0
    # missing floor file -> skip, not fail
    assert bench.gate({"a": 99.0}, str(tmp_path / "absent.json")) == 0


def test_regression_gate_honors_recorded_bands(tmp_path):
    # the gate (bench.gate, not just the compare helper) must excuse a
    # time inside the recorded variance band even when it is past
    # 1.5x the historical floor — the r6 gate run flagged decontaminate
    # at 1.46s (floor 0.95, band [1.33, 1.62]) because bench.py never
    # forwarded the bands to compare()
    import json

    import bench

    fp = tmp_path / "floor.json"
    fp.write_text(
        json.dumps(
            {
                "queries": {"a": 1.0},
                "bands": {"a": [1.3, 1.7]},
                "tier2_queries": {"x": 1.0},
                "tier2_bands": {"x": [1.4, 1.8]},
            }
        )
    )
    assert bench.gate({"a": 1.6}, str(fp)) == 0  # inside band
    # the band high carries a 1.25x jitter margin (finite-sample highs
    # underestimate the spread): 1.7*1.25 = 2.125 is the real ceiling
    assert bench.gate({"a": 2.0}, str(fp)) == 0
    assert bench.gate({"a": 2.2}, str(fp)) == 1  # past ratio AND margined band
    assert bench.gate({"a": 1.0}, str(fp), tier2={"x": 2.2}) == 0
    assert bench.gate({"a": 1.0}, str(fp), tier2={"x": 2.3}) == 1


def test_regression_gate_covers_tier2(tmp_path):
    # tier2 (all-registry sf0.01) compares only when both the floor and
    # the run carry it — the non-headline queries' only perf guard
    import json

    import bench

    fp = tmp_path / "floor.json"
    fp.write_text(
        json.dumps(
            {"queries": {"a": 10.0}, "tier2_queries": {"x": 2.0, "y": 0.1}}
        )
    )
    assert bench.gate({"a": 10.0}, str(fp), tier2={"x": 4.0, "y": 0.1}) == 1
    assert bench.gate({"a": 10.0}, str(fp), tier2={"x": 2.1, "y": 0.4}) == 0
    assert bench.gate({"a": 10.0}, str(fp)) == 0
    # floor without tier2 ignores the run's tier2
    fp2 = tmp_path / "floor2.json"
    fp2.write_text(json.dumps({"queries": {"a": 10.0}}))
    assert bench.gate({"a": 10.0}, str(fp2), tier2={"x": 99.0}) == 0


def test_bench_compare_tool_flags_regressions(tmp_path):
    import sys

    sys.path.insert(0, "tools")
    from bench_compare import compare

    base = {"x": 4.0, "y": 1.0}
    assert compare(base, {"x": 7.0, "y": 1.2}) == ["x"]
    assert compare(base, {"x": 5.0, "y": 1.2}) == []
    # min_abs_sec suppresses sub-threshold jitter
    assert compare({"z": 0.1}, {"z": 0.3}) == ["z"]
    assert compare({"z": 0.1}, {"z": 0.3}, min_abs_sec=0.5) == []
    # variance bands excuse times inside the recorded spread (plus the
    # 1.25x finite-sample jitter margin), but a time past BOTH the
    # ratio and the margined band high still regresses
    bands = {"x": [4.0, 7.5]}
    assert compare(base, {"x": 7.0}, bands=bands) == []
    assert compare(base, {"x": 9.0}, bands=bands) == []  # <= 7.5 * 1.25
    assert compare(base, {"x": 9.5}, bands=bands) == ["x"]
    assert compare(base, {"x": 8.0}, bands=bands, band_margin=1.0) == ["x"]
    # a query with no band falls back to the plain ratio rule
    assert compare(base, {"y": 2.0}, bands=bands) == ["y"]


def test_regression_gate_subsecond_aggregate():
    # ~60 headline queries sit under the 1.0s per-query cutoff; their
    # SUM is gated as one quantity so a broad small-query regression
    # (session-config slip, new per-query fixed cost) cannot hide
    import bench

    floor = {c: 0.5 for c in "abcde"} | {"big": 5.0}
    # every sub-second query doubled: each is individually sub-cutoff
    # (0.5 -> 1.0s is still under the gate once jittered below it) but
    # the sum 5.0s > 1.5 * 2.5s floor-sum and the delta exceeds 1s
    doubled = {c: 1.0 for c in "abcde"} | {"big": 5.0}
    got = bench._subsecond_aggregate_regressions(
        floor, doubled, band=None, label="subsecond_sum"
    )
    assert len(got) == 1 and next(iter(got)).startswith("subsecond_sum")
    # inside ratio: fine
    ok = {c: 0.6 for c in "abcde"} | {"big": 5.0}
    assert (
        bench._subsecond_aggregate_regressions(floor, ok, None, "s") == set()
    )
    # past the ratio but with a sub-cutoff absolute delta: the same
    # scheduler jitter the per-query cutoff ignores (a lone 0.1s query
    # doubling must not trip the aggregate)
    assert (
        bench._subsecond_aggregate_regressions(
            {"a": 0.1}, {"a": 0.25}, None, "s"
        )
        == set()
    )
    # a recorded sum band (plus margin) excuses a measured-legitimate
    # spread even past the ratio
    assert (
        bench._subsecond_aggregate_regressions(
            floor, doubled, band=[2.5, 4.5], label="s"
        )
        == set()
    )
    assert (
        bench._subsecond_aggregate_regressions(
            floor, doubled, band=[2.5, 3.0], label="s"
        )
        != set()
    )
    # the set is floor-defined: queries missing from the current run
    # drop out of BOTH sums (a trimmed run stays comparable)
    assert (
        bench._subsecond_aggregate_regressions(
            {"a": 0.2}, {"zz": 9.9}, None, "s"
        )
        == set()
    )


def test_bench_bands_merge_guards_inflated_highs():
    # r6 ADVICE: bands widened monotonically and unconditionally, so a
    # bands refresh taken while a regression was live baked the
    # regressed time into the high-water mark forever. A candidate
    # high that would itself excuse a gate-able regression (past
    # ratio*floor AND the 1s cutoff) must NOT merge by default, and
    # every merge must leave an auditable provenance record. The
    # headline and tier2 keys merge by the same rule.
    import sys

    sys.path.insert(0, "tools")
    from bench_bands import merge_bands

    for p in ("", "tier2_"):
        base = {
            p + "queries": {"hot": 2.0, "cold": 0.2},
            p + "bands": {"hot": [2.0, 2.4], "cold": [0.2, 0.3]},
        }
        # hot measured at 4.0 (2x floor, >1s): inflated -> capped
        # cold measured at 0.5 (2.5x floor but sub-cutoff): legit widen
        merged = merge_bands(
            dict(base), [{"hot": 4.0, "cold": 0.5}], source="test", prefix=p
        )
        assert merged[p + "bands"]["hot"] == [2.0, 2.4]
        assert merged[p + "bands"]["cold"] == [0.2, 0.5]
        prov = merged[p + "band_provenance"][-1]
        assert prov["source"] == "test"
        assert "hot" in prov["capped_inflated_highs"]
        # floors still move down on a better measurement
        merged2 = merge_bands(
            dict(base), [{"hot": 1.5, "cold": 0.2}], "test", prefix=p
        )
        assert merged2[p + "queries"]["hot"] == 1.5
        # --allow-inflated merges the high (the sanctioned reset path)
        merged3 = merge_bands(
            dict(base),
            [{"hot": 4.0, "cold": 0.5}],
            "test",
            allow_inflated=True,
            prefix=p,
        )
        assert merged3[p + "bands"]["hot"] == [2.0, 4.0]
        # a tier's merge writes only its own keys
        assert all(k.startswith("tier2_") == bool(p) for k in merged3)


def test_bench_bands_maintains_sub_cutoff_sum_band():
    import sys

    sys.path.insert(0, "tools")
    from bench_bands import merge_bands

    for p in ("", "tier2_"):
        base = {p + "queries": {"a": 0.2, "b": 0.3, "big": 5.0}}
        runs = [
            {"a": 0.25, "b": 0.35, "big": 5.2},
            {"a": 0.3, "b": 0.4, "big": 5.1},
        ]
        merged = merge_bands(dict(base), runs, "test", prefix=p)
        assert merged[p + "sub_cutoff_band"] == [0.6, 0.7]
        # the membership the band was measured over is frozen next to it
        # (ADVICE r7: the gate must compare the same query set)
        assert merged[p + "sub_cutoff_members"] == ["a", "b"]
        # a high past ratio x floor-sum but within the 1s absolute delta
        # is the same scheduler jitter the gate excuses — merged, not
        # capped (ADVICE r7: the old guard refused highs the gate would
        # never flag)
        merged2 = merge_bands(
            dict(merged), [{"a": 0.5, "b": 0.6, "big": 5.0}], "t2", prefix=p
        )
        assert merged2[p + "sub_cutoff_band"][1] == 1.1
        assert "sub_cutoff_sum" not in merged2[p + "band_provenance"][-1][
            "capped_inflated_highs"
        ]
        # an inflated sum high past BOTH gate criteria (ratio AND >=1s
        # absolute growth) is capped
        merged3 = merge_bands(
            dict(merged), [{"a": 1.0, "b": 0.8, "big": 5.0}], "t3", prefix=p
        )
        assert merged3[p + "sub_cutoff_band"][1] == 0.7
        assert "sub_cutoff_sum" in merged3[p + "band_provenance"][-1][
            "capped_inflated_highs"
        ]
