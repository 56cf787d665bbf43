"""One benchmark run in a fresh Spark driver process (started by run.py).

Timeline of a run, all on one thread (one closed-loop client):

1. set-up: ``session.get_spark()``, ``registry.load_all()`` and one
   warm-up action; ``setup_s`` runs from the launcher spawning this
   process until that action returns.
2. first pass: every query of the workload's pool once, in a seeded
   order, with codegen, JIT and Python workers cold (``first_pass_s``).
3. steady window: one further seeded pass over the pool, followed by
   more while less than ``--seconds`` has been measured. Every run of a
   workload thus measures the same mix of queries, and the same number
   of executions of each. Every steady op must reproduce its query's
   first fingerprint.
4. each query's first fingerprint is checked against its oracle verdict
   (see ``verify``), outside the measured phases.

An op is one query: the call into the registered function (construct)
plus the full-output ``xxhash64`` + ``bit_xor`` fold that bench.py's
``force_full_eval`` uses (action). Its fingerprint is (row count, xor).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time

# Ops slower than this count as failed (timeout).
OP_TIMEOUT_S = 120.0

# Each workload is its query pool. Both measure one steady pass: a
# time-based stop would end some runs after one pass and others after
# two, and the first warm pass is slower than the second.
WORKLOADS = {
    # the reference's own read surface, where fixed per-query cost
    # (fixture views, Catalyst, job scheduling) dominates, plus one
    # Arrow-batched pandas UDF filter that keeps the Python edge measured
    "catalog": [
        "scan_parquet",
        "filter_regex",
        "validate_schema",
        "join_job_pipeline",
        "join_asof_state",
        "join_range_events_in_run",
        "agg_state_rollup",
        "agg_storage_stats",
        "win_latest_history",
        "topk_recent_jobs",
        "pipeline_index_job",
        "udf_regex_python_only",
    ],
    # the write side: streaming replays, state stores, checkpoints,
    # memory sinks and parquet writes
    "ingest": [
        "stream_tumbling_counts",
        "stream_ingest_dedupe",
        "stream_incremental_upsert",
        "sink_catalog_upsert",
        "sink_event_emit",
        "sink_partitioned_catalog",
    ],
}


def fold(df):
    """bench.py's full-output fold, keeping the xor as well as the count."""
    from pyspark.sql import functions as F

    return df.select(F.xxhash64(*[F.col(c) for c in df.columns]).alias("h")).agg(
        F.count("h").alias("n"), F.bit_xor("h").alias("x")
    )


def machine_state() -> dict:
    """load1 and the cumulative user..steal jiffies, as bench.py records them."""
    state = {"load1": round(os.getloadavg()[0], 2)}
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    state["steal"] = vals[7]
    state["cpu_total"] = sum(vals)
    return state


def steal_share(start: dict, end: dict) -> float:
    total = end["cpu_total"] - start["cpu_total"]
    return (end["steal"] - start["steal"]) / total if total > 0 else 0.0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    kib = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kib += int(line.split()[1])
    return kib / 1024.0


def heap_live_mb(spark) -> float:
    """JVM heap still in use after full collections: what the session
    retains between queries (plans, status store, memory-sink tables).
    Unlike the peak resident set, it does not depend on when the
    collector chose to grow the heap.

    The DataFrame cache is cleared, the listener bus drained (queued
    events hold executions) and the driver's py4j references collected
    first. Then full collections repeat every 0.5 s until three readings
    agree within 1 MB: Spark's context cleaner drops a freed broadcast's
    blocks only after a collection has found it, which took about a
    second for the 64 MB hashed relation of ``join_job_pipeline``."""
    import gc

    spark.catalog.clearCache()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    gc.collect()
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings: list[float] = []
    for _ in range(10):
        jvm.java.lang.System.gc()
        readings.append((rt.totalMemory() - rt.freeMemory()) / float(1 << 20))
        if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) < 1.0:
            break
        time.sleep(0.5)
    return readings[-1]


def tail(latencies: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least 10 samples beyond it, as
    (percentile, value); (None, None) with 10 samples or fewer."""
    n = len(latencies)
    if n <= 10:
        return None, None
    return 100.0 * (n - 10) / n, sorted(latencies)[n - 11]


class Run:
    def __init__(self, args, spark, queries, tracer) -> None:
        self.args = args
        self.spark = spark
        self.queries = queries
        self.tracer = tracer
        self.reference: dict[str, tuple[int, int]] = {}

    def op(self, name: str, phase: str) -> dict:
        rec: dict = {"query": name, "phase": phase, "ok": False}
        if self.tracer:
            self.tracer.begin()
        action_df = None
        t0 = time.perf_counter()
        t1 = t2 = t0
        try:
            df = self.queries[name](self.spark, self.args.sf_dir)
            t1 = time.perf_counter()
            action_df = fold(df)
            row = action_df.collect()[0]
            t2 = time.perf_counter()
            rec["fingerprint"] = [int(row["n"]), int(row["x"] or 0)]
        except Exception as exc:  # an op that raises is a failed op
            t2 = time.perf_counter()
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        # two consecutive intervals of one timer: they sum to the op wall
        rec["construct_s"] = t1 - t0
        rec["action_s"] = t2 - t1
        rec["wall_s"] = t2 - t0
        if "error" not in rec:
            fp = tuple(rec["fingerprint"])
            if rec["wall_s"] > OP_TIMEOUT_S:
                rec["error"] = f"timeout: {rec['wall_s']:.1f}s > {OP_TIMEOUT_S}s"
            elif name not in self.reference:
                self.reference[name] = fp
                rec["ok"] = True
            elif self.reference[name] != fp:
                rec["error"] = f"fingerprint {list(fp)} != {list(self.reference[name])}"
            else:
                rec["ok"] = True
        if self.tracer:
            rec["layers"] = self.tracer.end(
                action_df if "fingerprint" in rec else None,
                rec["construct_s"],
                rec["action_s"],
            )
        return rec


def verify(spark, queries: dict, names: list[str], sf_dir: str) -> dict:
    """Run each query once and compare its output with its DuckDB oracle
    (``registry.ORACLE``) by the canonical row comparison of tests/parity.py.

    Returns ``{name: [rows, xor]}`` for an output that matches (or has no
    oracle) and ``{name: "error"}`` otherwise. The comparison (a full
    ``toPandas``) costs more than the op, and a sink query's frame reads
    files that its next execution overwrites, so it runs in a process of
    its own before the measured run; measured runs then compare their
    first fingerprints with these verdicts."""
    from pipelinejobs_indexer_spark import registry

    sys.path.insert(0, os.path.join(os.environ["PERFBENCH_ROOT"], "tests"))
    from parity import assert_frames_match

    con = _duckdb(sf_dir)
    verdicts: dict = {}
    try:
        for name in names:
            try:
                df = queries[name](spark, sf_dir)
                row = fold(df).collect()[0]
                if name in registry.ORACLE:
                    oracle = con.execute(registry.ORACLE[name]).df()
                    assert_frames_match(df.toPandas(), oracle, name)
                verdicts[name] = [int(row["n"]), int(row["x"] or 0)]
            except Exception as exc:  # a verdict, not a crash: the run reports it
                verdicts[name] = f"{type(exc).__name__}: {str(exc)[:300]}"
    finally:
        con.close()
    return verdicts


def check_first_pass(first: list[dict], verdicts: dict) -> list[str]:
    """Fail each first-pass op whose output differs from its verdict;
    return the queries checked against a verified fingerprint."""
    checked = []
    for rec in first:
        verdict = verdicts.get(rec["query"])
        if not rec["ok"] or verdict is None:
            continue
        if isinstance(verdict, str):
            rec["ok"] = False
            rec["error"] = f"oracle check: {verdict}"
        elif verdict != rec["fingerprint"]:
            rec["ok"] = False
            rec["error"] = f"fingerprint {rec['fingerprint']} != oracle-verified {verdict}"
        else:
            checked.append(rec["query"])
    return checked


def _duckdb(sf_dir: str):
    import duckdb

    from pipelinejobs_indexer_spark.tables import BASE_TABLES

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in BASE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def summarize_layers(steady: list[dict], passes: int, setup: dict, cores: int) -> dict:
    """Per-layer metrics of the traced run: each op metric summed over the
    steady ops of one pass (a pass runs every pool query once), except
    the utilization (a ratio of sums) and the sink views (left after the
    last op). The set-up layers are this run's own readings."""
    from layers import OP_METRICS

    out = {
        "session.get_spark_s": setup["session.get_spark_s"],
        "registry.load_all_s": setup["registry.load_all_s"],
    }
    for key in OP_METRICS:
        out[key] = sum(r["layers"][key] for r in steady) / passes
    wall = sum(r["wall_s"] for r in steady)
    run_s = sum(r["layers"]["spark.executor_run_s"] for r in steady)
    out["spark.core_utilization"] = run_s / (wall * cores) if wall > 0 else 0.0
    out["streaming.sink_views_alive"] = steady[-1]["layers"]["streaming.sink_views_alive"]
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--sf", type=float, required=True)
    p.add_argument("--oracle-cache", required=True)
    p.add_argument("--queries", default="")
    p.add_argument("--plant-mismatch", action="store_true")
    p.add_argument("--verify", action="store_true")
    args = p.parse_args()

    spawn_t = float(os.environ["PERFBENCH_SPAWN_T"])
    machine = {"start": machine_state()}
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    pool = args.queries.split(",") if args.queries else WORKLOADS[args.workload]

    from pipelinejobs_indexer_spark import registry
    from pipelinejobs_indexer_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    registry.load_all()
    t2 = time.perf_counter()
    import __spark_entry__

    queries = __spark_entry__.queries()
    spark.read.parquet(f"{args.sf_dir}/nation.parquet").count()
    t3 = time.perf_counter()
    setup = {
        "setup_s": time.time() - spawn_t,
        "session.get_spark_s": t1 - t0,
        "registry.load_all_s": t2 - t1,
        "warmup_s": t3 - t2,
    }
    verdicts: dict = {}
    if os.path.exists(args.oracle_cache):
        with open(args.oracle_cache) as fh:
            verdicts = json.load(fh)
    if args.verify:
        verdicts.update(verify(spark, queries, pool, args.sf_dir))
        tmp = f"{args.oracle_cache}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(verdicts, fh, indent=1, sort_keys=True)
        os.replace(tmp, args.oracle_cache)
        spark.stop()
        return 0

    tracer = None
    if args.trace:
        from layers import Tracer

        tracer = Tracer(spark, cores)
    run = Run(args, spark, queries, tracer)
    rng = random.Random(args.seed)

    def next_pass() -> list[str]:
        order = list(pool)
        rng.shuffle(order)
        return order

    first = [run.op(name, "first") for name in next_pass()]
    first_pass_s = sum(r["wall_s"] for r in first)
    if args.plant_mismatch:
        n, x = run.reference[first[0]["query"]]
        run.reference[first[0]["query"]] = (n, x ^ 1)

    # start the steady window from a collected heap, not from wherever
    # the first pass left the collector
    spark._jvm.java.lang.System.gc()
    steady: list[dict] = []
    passes = 0
    w0 = time.perf_counter()
    while not passes or time.perf_counter() - w0 < args.seconds:
        steady.extend(run.op(name, "steady") for name in next_pass())
        passes += 1
    window_s = time.perf_counter() - w0

    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    peak_mb = peak_rss_mb(pids)
    live_mb = heap_live_mb(spark)
    machine["end"] = machine_state()
    checked = check_first_pass(first, verdicts)
    ops = first + steady
    failed = sum(not r["ok"] for r in ops)
    lat = [r["wall_s"] if r["ok"] else math.inf for r in steady]
    tail_pct, tail_s = tail(lat)
    e2e = {
        "setup_s": {"value": setup["setup_s"], "unit": "s"},
        "first_pass_s": {"value": first_pass_s, "unit": "s"},
        "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "op_tail_s": {"value": tail_s, "unit": "s", "percentile": tail_pct, "samples": len(lat)},
        "ops_per_s": {"value": sum(r["ok"] for r in steady) / window_s, "unit": "ops/s"},
        "op_error_ratio": {"value": failed / len(ops), "unit": "ratio"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        "heap_live_mb": {"value": live_mb, "unit": "MB"},
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sf": args.sf,
        "pool": pool,
        "cores": cores,
        "spark_master": spark.sparkContext.master,
        "spark_version": spark.version,
        "java_version": spark._jvm.java.lang.System.getProperty("java.version"),
        "machine": machine,
        "steal_share": steal_share(machine["start"], machine["end"]),
        "setup": setup,
        "end_to_end": e2e,
        "steady_passes": passes,
        "steady_window_s": window_s,
        "oracle_checked": sorted(checked),
        "wall_split": "exact by construction: an op's construct_s and action_s "
        "are consecutive intervals of one timer and sum to its wall_s",
        "ops": [{k: v for k, v in r.items() if k != "layers"} for r in ops],
    }
    if tracer:
        record["layers_per_op"] = [
            {"query": r["query"], "phase": r["phase"], **r["layers"]} for r in ops
        ]
        record["notes"] = (
            "construct of a stream_* query includes its whole eager "
            "micro-batch replay (streaming.core.run_to_batch); its "
            "action only reads the memory sink"
        )
        from layers import OP_METRICS

        values = summarize_layers(steady, passes, setup, cores)
        units = {k: OP_METRICS.get(k, "s") for k in values}
    else:
        values = {k: v["value"] for k, v in e2e.items()}
        units = {k: v["unit"] for k, v in e2e.items()}
    with open(os.path.join(os.environ["PERFBENCH_ROOT"], "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer" if tracer else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": units[m["name"]]} for m in listed}
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    if tracer:
        tracer.close()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
