"""Closed-loop benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload card_catalog --seed 1 --seconds 30 --trace 0 --cpus 4

Run from the root of a checkout. Workloads (see perfbench/README.md):

- ``card_catalog``: the reference-parity registry queries over fixed
  sf0.1-sized tables, in a seeded order;
- ``card_ingest``: seeded Scryfall-shaped upsert batches through
  ``ingest_cards_file(..., partition_by="set")``.

Every run gets its own ``TMPDIR``, artifact warehouse, Spark local dirs,
event-log dir and card table under ``.perfbench_runs/`` and removes them
at exit; the Spark JVM is shut down and waited for before that. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, a run with the Spark event log on and a job group per op
phase). The line before it is the steadiness report. A traced run also
writes its spans and per-query records to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("card_catalog", "card_ingest")
#: the Spark driver's heap, passed to get_spark explicitly
DRIVER_MEMORY = "3g"


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, required=True, help="Spark local[N] core count")
    return ap.parse_args()


def _isolate(workload: str) -> dict[str, str]:
    """Private per-run directories, exported before anything reads them."""
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    dirs = {k: os.path.join(run_dir, k) for k in
            ("tmp", "artifacts", "local", "eventlog", "warehouse", "input")}
    for d in dirs.values():
        os.makedirs(d)
    dirs["run"] = run_dir
    dirs["table"] = os.path.join(run_dir, "cards_table")
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    # the JVM that spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_ARTIFACT_WAREHOUSE"] = dirs["artifacts"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    return dirs


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - last resort
                proc.kill()
                proc.wait()


def main() -> int:
    args = _args()
    sys.path.insert(0, ROOT)
    try:
        from mtg_bulk_database_spark.ingest.pipeline import ingest_cards_file
        from mtg_bulk_database_spark.registry import load_registry
        from mtg_bulk_database_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import stats
    import tables
    import tracing
    import workloads

    data_dir = None
    bench_s = 0.0
    if args.workload == "card_catalog":
        t = time.perf_counter()
        data_dir = tables.ensure_tables(os.path.join(ROOT, ".perfbench_data"))
        bench_s += time.perf_counter() - t

    dirs = _isolate(args.workload)
    spark = None
    try:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        }
        if args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + dirs["eventlog"],
            })
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            cpus=args.cpus,
            extra_conf={"spark.driver.memory": DRIVER_MEMORY, **conf},
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        run = workloads.Run(spark, dirs, args.seed, args.seconds, bool(args.trace))
        run.layers["session.start_s"] = session_s
        run.bench_s = bench_s
        if args.workload == "card_catalog":
            t0 = time.perf_counter()
            registry = load_registry()
            run.layers["registry.import_s"] = time.perf_counter() - t0
            workloads.run_catalog(run, data_dir, registry)
        else:
            workloads.run_ingest(run, ingest_cards_file)
        setup_s = run.first_timed_op_at - PROCESS_START - run.bench_s
        _stop(spark)
        spark = None

        e2e = run.end_to_end(setup_s)
        report = stats.steadiness(run.ops)
        spec = _spec()
        if args.trace:
            log = tracing.parse_event_log(dirs["eventlog"])
            records = tracing.phase_records(run.spans.spans, log)
            layers = {**tracing.layer_metrics(records, run.timed_ops), **run.layers}
            _write_trace(args, records, layers, e2e, report)
            metrics = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
            print(json.dumps({"traced_end_to_end": e2e}), flush=True)
        else:
            metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(dirs["run"], ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps({"steadiness": report, "error_rate": run.failed / run.attempted}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _write_trace(args, records, layers, e2e, report) -> None:
    """Spans (op → phase → jobs) and per-query medians of a traced run."""
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    per_query: dict[str, dict[str, list[float]]] = {}
    for r in records:
        if r["op"].startswith("t"):
            q = per_query.setdefault(r["query"], {})
            for key in ("wall", "jobs", "stages", "tasks"):
                q.setdefault(f"{r['phase']}_{key}", []).append(r[key])
    summary = {
        q: {k: sorted(v)[len(v) // 2] for k, v in d.items()} for q, d in sorted(per_query.items())
    }
    spans = [
        {k: r[k] for k in ("op", "query", "phase", "wall", "jobs", "stages", "tasks", "job_covered_s")}
        for r in records
    ]
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(
            {"workload": args.workload, "seed": args.seed, "layers": layers,
             "end_to_end": e2e, "steadiness": report, "per_query_median": summary,
             "spans": spans},
            fh,
            indent=1,
        )


if __name__ == "__main__":
    sys.exit(main())
