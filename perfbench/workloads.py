"""The two closed-loop workloads: one client thread, one Spark session.

Both time only calls into the engine's public entry points
(``get_spark``, ``load_registry``, ``QUERIES[name](spark, dir)`` then
``.count()``, and ``ingest_cards_file``) and check every output.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import sys
import time
import traceback

from cards import CardStream, write_json_array
from stats import tail
from tracing import Spans, sink_diff, table_files

#: card_catalog: the reference-parity registry queries and their weight
#: in one round. The weights keep both order statistics inside one
#: query's latency band for any number of timed rounds from 3 up: per
#: round 6 ops sit below the q03/q10 band, 5 in it and 8 above it, so the
#: median falls inside it; the tail rank, 10 ops from the top, falls in
#: the q12 band (4 per round) just under the one q22 per round, the
#: slowest query.
CATALOG_WEIGHTS = {
    "q01_pk_point_lookup": 2,
    "q02_secondary_equality": 1,
    "q03_containment_single": 2,
    "q05_ilike_substring": 1,
    "q06_numeric_range": 1,
    "q07_fts_match_all": 1,
    "q10_enrichment_join": 3,
    "q11_pricing_summary": 1,
    "q12_window_topk": 4,
    "q16_sort_limit": 1,
    "q22_revenue_by_nation": 1,
    "q43_json_extract": 1,
}
#: warm-up rounds after the cold pass and timed rounds, counted in rounds
#: (not seconds) so every run and every revision warms and times the same
#: ops; ``--seconds`` only caps the timed phase
CATALOG_WARM_ROUNDS = 2
CATALOG_TIMED_ROUNDS = 3

#: card_ingest table shape. Cards per set from the reference's scale
#: (10^5-10^6 cards over ~900 sets: 110-1100 per set); the number of sets
#: and the sets one batch refreshes are choices that fit the time budget
INGEST_CARDS_PER_SET = 350
INGEST_SETS = 8
INGEST_BATCH_SETS = 2
#: card_ingest warm-up and timed phase, in upserts
INGEST_WARM_OPS = 6
INGEST_TIMED_OPS = 16


#: layer metrics a workload records itself (not from spans or listings)
RUN_LAYERS = (
    "session.start_s",
    "registry.import_s",
    "registry.construct_cold_s",
    "ingest.initial_load_s",
    "ingest.table_bytes_per_input_byte",
)


class Run:
    """Shared state of one benchmark process."""

    def __init__(self, spark, dirs: dict, seed: int, seconds: float, traced: bool):
        self.spark = spark
        self.dirs = dirs
        self.seed = seed
        self.seconds = seconds
        self.spans = Spans(spark.sparkContext, traced)
        self.traced = traced
        self.bench_s = 0.0  # benchmark-side work during set-up (not engine work)
        self.ops: list[tuple[str, float]] = []  # timed (query, latency)
        self.timed_ops: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.timed_wall = 0.0
        self.first_timed_op_at: float | None = None
        self.layers: dict[str, float] = {}
        self.notes: list[str] = []

    def fail(self, msg: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        if len(self.notes) < 20:
            self.notes.append(msg)
            print(f"perfbench: {msg}", file=sys.stderr, flush=True)
            if exc is not None:
                traceback.print_exception(exc, file=sys.stderr)

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        lat = [x for _, x in self.ops]
        if not lat:
            raise RuntimeError(f"no timed op succeeded: {self.notes[:3]}")
        return {
            "setup_s": setup_s,
            "ops_per_min": 60.0 * len(lat) / self.timed_wall,
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail(lat)[0],
        }


def _timed_loop(run: Run, do_round, rounds: int) -> None:
    """Run ``rounds`` whole rounds, or fewer if ``run.seconds`` of timed
    wall pass first; ``do_round`` returns the benchmark-side seconds to
    leave out."""
    start = run.first_timed_op_at = time.perf_counter()
    bench = 0.0
    for rnd in range(rounds):
        bench += do_round(rnd)
        run.timed_wall = time.perf_counter() - start - bench
        if run.timed_wall >= run.seconds:
            return


# ---------------------------------------------------------------------------
# card_catalog
# ---------------------------------------------------------------------------
def oracle_counts(oracle_sql: dict[str, str], names, data_dir: str) -> dict[str, int]:
    """Row counts of the DuckDB twin of every oracled query, cached next
    to the tables under a hash of the SQL text (the tables never change
    under one ``TABLES_VERSION``; a changed twin is counted afresh)."""
    cache_path = os.path.join(data_dir, "oracle_counts.json")
    try:
        with open(cache_path, encoding="utf-8") as fh:
            cache = json.load(fh)
    except (OSError, ValueError):
        cache = {}
    keys = {n: hashlib.sha256(oracle_sql[n].encode()).hexdigest() for n in names if n in oracle_sql}
    if any(k not in cache for k in keys.values()):
        import duckdb

        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f).replace("'", "''")
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        for name, key in keys.items():
            if key not in cache:
                sql = f"SELECT count(*) FROM ({oracle_sql[name]}) t"
                cache[key] = con.execute(sql).fetchone()[0]
        con.close()
        tmp = f"{cache_path}.tmp{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(cache, fh)
        os.replace(tmp, cache_path)
    return {name: cache[key] for name, key in keys.items()}


def catalog_rng(seed: int) -> random.Random:
    return random.Random(f"catalog:{seed}")


def catalog_round(rng: random.Random) -> list[str]:
    ops = [name for name, w in CATALOG_WEIGHTS.items() for _ in range(w)]
    rng.shuffle(ops)
    return ops


def run_catalog(run: Run, data_dir: str, registry) -> None:
    queries, oracle_sql = registry
    spark = run.spark
    names = list(CATALOG_WEIGHTS)
    missing = [n for n in names if n not in queries]
    if missing:
        raise KeyError(f"registry lacks {missing}")

    t = time.perf_counter()
    expected = oracle_counts(oracle_sql, names, data_dir)
    run.bench_s += time.perf_counter() - t

    def op(label: str, name: str) -> float | None:
        run.attempted += 1
        try:
            t0 = time.perf_counter()
            df = run.spans.run(label, name, "construct", lambda: queries[name](spark, data_dir))
            n = run.spans.run(label, name, "action", df.count)
            lat = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - any failure is a failed op
            run.fail(f"{label} {name}: {type(e).__name__}: {e}", e)
            return None
        if name not in expected:
            expected[name] = n  # un-oracled: the first (cold) pass is the reference
        elif n != expected[name]:
            run.fail(f"{label} {name}: {n} rows, expected {expected[name]}")
            return None
        return lat

    # cold pass: each query's first call, in CATALOG_WEIGHTS order
    cold = 0.0
    for name in names:
        before = len(run.spans.spans)
        op(f"c{name}", name)
        cold += sum(s["wall"] for s in run.spans.spans[before:] if s["phase"] == "construct")
    run.layers["registry.construct_cold_s"] = cold

    rng = catalog_rng(run.seed)
    for w in range(CATALOG_WARM_ROUNDS):
        for i, name in enumerate(catalog_round(rng)):
            op(f"w{w}.{i}", name)

    def do_round(rnd: int) -> float:
        for i, name in enumerate(catalog_round(rng)):
            label = f"t{rnd}.{i}"
            lat = op(label, name)
            run.timed_ops.append(label)
            if lat is not None:
                run.ops.append((name, lat))
        return 0.0

    _timed_loop(run, do_round, CATALOG_TIMED_ROUNDS)


# ---------------------------------------------------------------------------
# card_ingest
# ---------------------------------------------------------------------------
def run_ingest(run: Run, ingest_cards_file) -> None:
    spark = run.spark
    in_dir, table = run.dirs["input"], run.dirs["table"]
    t = time.perf_counter()
    stream = CardStream(run.seed, INGEST_SETS, INGEST_CARDS_PER_SET, INGEST_BATCH_SETS)
    first = os.path.join(in_dir, "initial.json")
    json_bytes = write_json_array(stream.initial(), first)
    run.bench_s += time.perf_counter() - t

    def upsert(label: str, path: str) -> float | None:
        run.attempted += 1
        try:
            t0 = time.perf_counter()
            run.spans.run(
                label,
                "card_ingest",
                "upsert",
                lambda: ingest_cards_file(spark, path, table, strict_layout=True, partition_by="set"),
            )
            return time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - any failure is a failed op
            run.fail(f"{label}: {type(e).__name__}: {e}", e)
            return None

    t0 = time.perf_counter()
    upsert("init", first)
    run.layers["ingest.initial_load_s"] = time.perf_counter() - t0

    def next_batch(label: str) -> tuple[str, int]:
        path = os.path.join(in_dir, f"{label}.json")
        return path, write_json_array(stream.batch(), path)

    for w in range(INGEST_WARM_OPS):
        t = time.perf_counter()
        path, nbytes = next_batch(f"w{w}")
        json_bytes += nbytes
        run.bench_s += time.perf_counter() - t
        upsert(f"w{w}", path)

    sink: list[dict[str, float]] = []

    def do_round(rnd: int) -> float:
        nonlocal json_bytes
        t = time.perf_counter()
        label = f"t{rnd}"
        path, nbytes = next_batch(label)
        json_bytes += nbytes
        before = table_files(table) if run.traced else None
        bench = time.perf_counter() - t
        lat = upsert(label, path)
        run.timed_ops.append(label)
        if lat is not None:
            run.ops.append(("card_ingest", lat))
        if run.traced:
            t = time.perf_counter()
            sink.append(sink_diff(before, table_files(table), nbytes))
            bench += time.perf_counter() - t
        return bench

    _timed_loop(run, do_round, INGEST_TIMED_OPS)

    # final state check (untimed): one row per surviving id, last-wins
    # values, dropped rows absent
    rows = (
        spark.read.parquet(table)
        .select("id", "set", "edhrec_rank", "released_at")
        .collect()
    )
    got = {
        r["id"]: (r["set"], r["edhrec_rank"], None if r["released_at"] is None else r["released_at"].isoformat())
        for r in rows
    }
    want = stream.expected_rows()
    if got != want or len(rows) != len(got):
        wrong = sum(1 for k in want if got.get(k) != want[k])
        extra = len(set(got) - set(want))
        # a wrong final table cannot be pinned on one op: count them all
        run.failed = run.attempted
        run.notes.append(
            f"final table: {len(rows)} rows, {len(want)} expected, "
            f"{wrong} wrong or missing, {extra} unexpected"
        )
        print(f"perfbench: {run.notes[-1]}", file=sys.stderr, flush=True)

    table_bytes = sum(size for size, _ in table_files(table).values())
    run.layers["ingest.table_bytes_per_input_byte"] = table_bytes / json_bytes
    for key in sink[0] if sink else ():
        run.layers[key] = sum(d[key] for d in sink) / len(sink)
