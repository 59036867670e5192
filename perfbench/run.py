"""The repository benchmark: API request latency, batch query time and
streaming ingest, each with a DuckDB correctness check.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload api_requests --seed 1 --seconds 10 --trace 0

Workloads (see ``BENCHMARK.json`` for why each is there):
``api_requests`` (``api_requests.py``) and ``pipeline`` (``pipeline.py``,
which runs ``stream_ingest.py`` then ``batch_queries.py``).

One run is one Python process driving one ``local[<cpus>]`` session,
``cpus`` being the CPUs this process may use. It builds the input tables
once per checkout (cached under ``.perfbench/data``), starts the session
once (the cold ``get_spark`` plus warm-up), prepares the workload's seeded inputs,
warms up, measures for ``--seconds`` and then checks the outputs. The
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``:

* ``--trace 0``: the end-to-end metrics, which every workload reports
  for its own operation (an API request; a pipeline pass of two timed
  ingest rounds and one pass over the batch query list):
  ``latency_p50_ms`` (median latency of an operation), ``ops_per_s``
  (operations per second of measured time) and ``setup_s`` (the run's
  one cold session start: JVM launch in ``get_spark`` plus warm-up).
* ``--trace 1``: the per-layer metrics. Spans and Spark job groups are
  recorded around every call into the package, the Spark event log is
  turned on through launch conf and folded per job group after the
  session stops. Metrics of layers a workload does not touch read 0.

Every run also writes a record with the run facts, all metrics and the
span self times to ``.perfbench/records/``; ``compare.py`` compares
records and refuses to mix core counts.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass
from typing import Any, Callable

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# workload name -> (module, class); each class is driven through
# prepare(), warm_up(), step() until the run's time is spent, check()
WORKLOADS = {
    "api_requests": ("api_requests", "ApiRequests"),
    "pipeline": ("pipeline", "Pipeline"),
}
E2E_UNITS = {"latency_p50_ms": "ms", "ops_per_s": "1/s", "setup_s": "s"}
# a run that hangs fails (and stops Spark) before the 180 s limit
WATCHDOG_S = 165


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    for suffix, unit in (
        ("_ms", "ms"),
        ("rows_per_s", "rows/s"),
        ("docs_per_s", "docs/s"),
        ("req_per_s", "1/s"),
        ("_s", "s"),
        ("_bytes", "bytes"),
        ("_mb", "MB"),
        ("_ratio", "ratio"),
        ("input_rows_per_request", "rows"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer_names() -> list[str]:
    from batch_queries import QUERIES
    from datagen import ENDPOINTS
    from stream_ingest import PHASES

    names = [f"plans.{q}.{m}" for q in QUERIES for m in ("build_s", "action_s", "jobs")]
    names += [
        f"operators.{m}"
        for m in (
            "executor_run_s executor_cpu_s gc_s shuffle_read_bytes shuffle_write_bytes "
            "spill_bytes tasks task_failures"
        ).split()
    ]
    names += [f"api.{ep}.p50_ms" for ep in ENDPOINTS]
    names += ["api.plan_ms", "api.collect_ms", "api.jobs_per_request", "api.input_rows_per_request"]
    names += ["sources.catalog.load_table_ms"]
    for kind in ("sync", "dedup"):
        names += [f"streaming.{kind}.{ph}_ms" for ph in PHASES]
        names += [f"streaming.{kind}.jobs_per_trigger"]
    names += ["streaming.dedup.planted_dropped_ratio"]
    names += ["sources.versioned.index_bytes", "sources.versioned.target_bytes"]
    names += ["session.jvm_start_s", "session.worker_warm_s", "session.driver_rss_mb"]
    names += [
        "api_p50_ms", "api_p95_ms", "api_req_per_s",
        "batch_total_s", "batch_curation_s", "batch_analytics_s",
        "sync_trigger_p50_s", "dedup_trigger_p50_s", "ingest_rows_per_s", "dedup_docs_per_s",
    ]  # fmt: skip
    return names


@dataclass
class Ctx:
    spark: Any
    sf_dir: str
    seed: int
    tracer: Any
    run_dir: str
    log: Callable[[str], None]


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _pin_env(run_dir: str, cpus: int, trace: bool) -> None:
    """Pin everything the session reads before the JVM starts, and keep
    every file Spark and Python write inside the run directory."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TZ="UTC",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # Python workers import the package and the benchmark's modules
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
        ),
    )
    time.tzset()
    conf = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    args = " ".join(f"--conf {shlex.quote(c)}" for c in conf)
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    import datagen
    import harness
    from verify_oracle import table_hash

    module, cls = WORKLOADS[args.workload]
    workload_cls = getattr(__import__(module), cls)
    cpus = len(os.sched_getaffinity(0))
    sf = args.sf if args.sf is not None else workload_cls.sf
    sf_dir = datagen.build_tables(os.path.join(WORK, "data"), sf)
    run_dir = os.path.join(
        WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _pin_env(run_dir, cpus, bool(args.trace))
    os.chdir(run_dir)
    session = harness.Session(cpus)
    phase_s: dict[str, float] = {}
    last = [time.perf_counter()]

    def lap(phase: str) -> None:
        now = time.perf_counter()
        phase_s[phase], last[0] = now - last[0], now

    try:
        session.start(sf_dir)
        lap("setup")
        spark = session.spark
        tracer = harness.Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, sf_dir, args.seed, tracer, run_dir, _log)
        wl = workload_cls(ctx)
        with tracer.group("perfbench.setup"):
            wl.prepare()
            wl.warm_up()
        lap("prepare")
        with tracer.span(f"workload.{args.workload}"):
            measure(wl, args.seconds)
        lap("run")
        rss = session.driver_rss_mb()
        with tracer.group("perfbench.check"):
            bad = wl.check(table_hash)
        lap("check")
        facts = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "sf": sf,
            "cpus": cpus,
            "spark": spark.version,
            "python": platform.python_version(),
            "host": platform.node(),
            "checked": wl.checked,
        }
        work = {}
        if args.trace:
            app_id = spark.sparkContext.applicationId
            session.stop()
            work = harness.fold_event_log(os.path.join(run_dir, "eventlog"), app_id)
    finally:
        session.stop()
        _stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        lap("stop")

    e2e = {
        "latency_p50_ms": harness.median(wl.op_s) * 1e3,
        "ops_per_s": len(wl.op_s) / max(sum(wl.op_s), 1e-9),
        "setup_s": session.setup_s,
    }
    if args.trace:
        layers = dict.fromkeys(per_layer_names(), 0.0)
        layers.update(session.metrics())
        layers["session.driver_rss_mb"] = rss
        layers.update(wl.named())
        layers.update(wl.layers(work))
        layers.update(
            harness.operator_metrics(harness.sum_work(work, wl.in_group), len(wl.op_s))
        )
        metrics = {k: {"value": float(v), "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    failed = wl.failed + bad
    result = {
        "correct": bad == 0 and wl.failed == 0,
        "attempted": int(wl.attempted),
        "failed": int(failed),
        "metrics": metrics,
    }
    record = {
        "facts": facts,
        "result": result,
        "e2e": e2e,
        "named": wl.named(),
        "op_s": wl.op_s,
        "phase_s": phase_s,
        "spans": tracer.self_times(),
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(
        WORK, "records", f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
    )
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print("perfbench facts: " + json.dumps(facts, sort_keys=True))
    return result


def measure(wl, seconds: float) -> None:
    """Closed loop: call ``wl.step()`` (one block of requests, or one
    pipeline pass) until ``seconds`` have passed, at least once. Each
    step appends the latencies of the operations it completed to
    ``wl.op_s``."""
    deadline = time.perf_counter() + seconds
    steps = 0
    while steps == 0 or time.perf_counter() < deadline:
        wl.step()
        steps += 1


def _overrun(_signum, _frame):
    raise TimeoutError(f"run exceeded {WATCHDOG_S}s")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be >= 0")
    for need in ("strava_data_pipeline_spark", os.path.join("tools", "verify_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            _log(f"{need} not found next to perfbench/; run from a checkout of the repository")
            return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    signal.signal(signal.SIGALRM, _overrun)
    signal.alarm(WATCHDOG_S)
    result = run(args)
    signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
