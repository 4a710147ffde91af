#!/usr/bin/env python3
"""Layered benchmark of the aws_saas_etl_spark engine.

    python3 perfbench/run.py --workload tpch_relational --seed 1 --seconds 10 --trace 0

One process, one client, closed loop: each query is constructed by calling
its registry function and executed by a ``noop``-sink ``save()``, and the
next query starts only after that write returns. Spark runs at
``local[<cpu count>]`` on fixture tables generated into a private run
directory under ``.perfbench/`` (see ``fixtures.py``), which is removed at
exit together with the run's ``SPARK_LOCAL_DIRS`` and ``TMPDIR``.

A run is:

1. set-up: import the engine, ``session.get_spark`` and an untimed warm-up
   pass that collects every query's result (``setup_s``);
2. timed passes until ``--seconds`` have elapsed, at least one. A pass runs
   every query of the workload in a seed-permuted order; each query runs
   cold, right after ``session.clear_session_memos()``, then warm;
3. the output check: each warm-up result against its DuckDB oracle from
   ``registry.oracle_sql()`` (a non-empty result where there is none).

The seed only orders the queries. With ``--trace 0`` the last stdout line
holds the end-to-end metrics; with ``--trace 1`` the run is traced (see
``tracing.py``) and the line holds the per-layer metrics instead. Metric
names, units and directions are declared in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Fixture scale. At small scales the engine's per-job fixed costs dominate
# query time, so sf0.001 keeps the per-query shape of larger scales.
SF = 0.001

# Kept small so a run of each workload ends within about 40 s on a 4-core
# host (about 20 s of it JVM start and warm-up): the benchmark is repeated
# tens of times per comparison.
WORKLOADS = {
    # Scan/join/aggregate plans from operators/relational.py: the catalog's
    # per-construction footer jobs against Spark execution; no memo.
    "tpch_relational": [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
    ],
    # Session artifacts: cold runs build the memo (IVF fit and assignment,
    # logreg fit), warm runs read it.
    "artifact_cold_warm": [
        "ann_ivf_topk",
        "doc_quality_logreg",
    ],
    # The reference's write path: a CSV roundtrip through sources.io, the
    # Arrow UDF and a micro-batch drain into a memory sink.
    "etl_write_stream": [
        "csv_roundtrip_stats",
        "doc_sentiment_udf",
        "stream_session_stats",
    ],
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics(trace: bool) -> dict[str, str]:
    """name → unit of the metrics this mode must print."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def prepare_env(run_dir: str) -> dict[str, str]:
    """Private scratch dirs for Spark and Python, and a PYTHONPATH that lets
    Spark's Python workers import the engine from any working directory."""
    dirs = {k: os.path.join(run_dir, k) for k in ("data", "tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    tempfile.tempdir = dirs["tmp"]
    sys.path.insert(0, ROOT)
    return dirs


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def normalized(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.astype(str).sort_values(by=list(df.columns), ignore_index=True)


def check_outputs(results: dict, oracles: dict[str, str], data_dir: str) -> list[str]:
    """Names whose result differs from the DuckDB oracle (row count,
    columns, order-insensitive values), or is empty where no oracle exists."""
    import duckdb

    from aws_saas_etl_spark.catalog import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        bad = []
        for name, got in sorted(results.items()):
            if name not in oracles:
                ok = len(got) > 0
            else:
                want = con.execute(oracles[name]).df()
                ok = (
                    len(got) == len(want)
                    and sorted(got.columns) == sorted(want.columns)
                    and normalized(got).equals(normalized(want))
                )
            if not ok:
                print(f"output check failed: {name}", file=sys.stderr)
                bad.append(name)
        return bad
    finally:
        con.close()


def run(args: argparse.Namespace, run_dir: str) -> dict:
    dirs = prepare_env(run_dir)
    import fixtures

    data = fixtures.write(dirs["data"], SF)
    declared = declared_metrics(bool(args.trace))
    names = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
    from aws_saas_etl_spark.session import clear_session_memos, get_spark

    t_get = time.perf_counter()
    spark = get_spark(
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        },
    )
    get_spark_s = time.perf_counter() - t_get
    try:
        spark.sparkContext.setLogLevel("ERROR")
        if tracer is not None:
            tracer.attach(spark)
        from aws_saas_etl_spark import registry

        fns = {n: registry.queries()[n] for n in names}
        oracles = registry.oracle_sql()
        if tracer is not None:
            fns = {n: tracer.wrap_query(fn) for n, fn in fns.items()}
        rng = random.Random(args.seed)

        def attempt(qid: str, name: str, collect: bool):
            """Run one query; returns its latency (or collected rows), or
            None if it raised."""
            if tracer is not None:
                tracer.qid = qid
            start = time.perf_counter()
            try:
                df = fns[name](spark, data)
                if collect:
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()
                return time.perf_counter() - start
            except Exception:
                print(f"query {qid} raised:\n{traceback.format_exc()}", file=sys.stderr)
                return None
            finally:
                if tracer is not None:
                    tracer.qid = None

        warm_order = rng.sample(names, len(names))
        results = {}
        for name in warm_order:
            clear_session_memos()
            got = attempt(f"warmup:{name}", name, collect=True)
            if got is not None:
                results[name] = got
        setup_s = time.perf_counter() - t0

        latencies: list[float] = []
        per_query: dict[str, list[float]] = {n: [] for n in names}
        timed_qids: list[str] = []
        passes: list[tuple[float, float]] = []
        failed_runs: dict[str, int] = {}
        attempted = 0
        timed_start = time.perf_counter()
        while not passes or time.perf_counter() - timed_start < args.seconds:
            sums = {"cold": 0.0, "warm": 0.0}
            for name in rng.sample(names, len(names)):
                clear_session_memos()
                for kind in ("cold", "warm"):
                    qid = f"p{len(passes)}:{name}:{kind}"
                    attempted += 1
                    lat = attempt(qid, name, collect=False)
                    if lat is None:
                        failed_runs[name] = failed_runs.get(name, 0) + 1
                        continue
                    latencies.append(lat)
                    per_query[name].append(round(lat, 4))
                    sums[kind] += lat
                    if tracer is not None:
                        tracer.collect_jobs(qid)
                        timed_qids.append(qid)
            passes.append((sums["cold"], sums["warm"]))
        timed_s = time.perf_counter() - timed_start

        if tracer is not None:
            metrics = tracer.layer_metrics(timed_qids)
            metrics["session.get_spark_s"] = get_spark_s
            metrics["memo.storage_mb"] = tracer.storage_mb()
            metrics["traced.latency_p50_s"] = statistics.median(latencies)
            tracer.dump(os.path.join(ROOT, ".perfbench", "spans", f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": setup_s,
                "queries_per_min": len(latencies) * 60.0 / timed_s,
                "latency_p50_s": statistics.median(latencies),
                "cold_pass_s": statistics.median(c for c, _ in passes),
                "warm_pass_s": statistics.median(w for _, w in passes),
            }
    finally:
        stop_spark(spark)

    mismatched = check_outputs(results, oracles, data)
    missing = [n for n in names if n not in results]
    for name in mismatched + missing:
        failed_runs[name] = 2 * len(passes)
    failed = sum(failed_runs.values())
    if set(metrics) != set(declared):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(declared))}")
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "sf": SF,
                "cpus": cpus,
                "trace": args.trace,
                "warmup_order": warm_order,
                "passes": len(passes),
                "timed_s": round(timed_s, 3),
                "failed_queries": sorted(failed_runs),
                "latency_s": per_query,
            }
        )
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": declared[k]} for k in declared},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "aws_saas_etl_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    try:
        record = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
