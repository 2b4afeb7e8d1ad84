"""The event-log parser on a tiny traced run: sf0.001-sized catalog
tables plus a small card upsert, one Spark session with the event log on."""

from __future__ import annotations

import os
import tempfile

import pytest

import tables
import tracing
from cards import CardStream, write_json_array


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    root = tmp_path_factory.mktemp("traced")
    data, log, work = root / "data", root / "eventlog", root / "work"
    for d in (data, log, work):
        d.mkdir()
    tables.write_tables(str(data), scale=0.01)
    saved = tempfile.tempdir
    tempfile.tempdir = str(work)

    from mtg_bulk_database_spark.ingest.pipeline import ingest_cards_file
    from mtg_bulk_database_spark.registry import load_registry
    from mtg_bulk_database_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-eventlog-test",
        cpus=2,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + str(log),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    spans = tracing.Spans(spark.sparkContext, traced=True)
    queries, _ = load_registry()
    counts = {}
    for op in ("t0", "t1"):
        for name in ("q01_pk_point_lookup", "q22_revenue_by_nation"):
            df = spans.run(op, name, "construct", lambda: queries[name](spark, str(data)))
            counts[(op, name)] = spans.run(op, name, "action", df.count)

    stream = CardStream(3, 6, 30, 2)
    table = str(work / "cards")
    sink = {}
    for op, cards in (("init", stream.initial()), ("t2", stream.batch()), ("t3", stream.batch())):
        path = str(work / f"{op}.json")
        nbytes = write_json_array(cards, path)
        before = tracing.table_files(table) if os.path.isdir(table) else {}
        spans.run(
            op,
            "card_ingest",
            "upsert",
            lambda: ingest_cards_file(spark, path, table, strict_layout=True, partition_by="set"),
        )
        sink[op] = tracing.sink_diff(before, tracing.table_files(table), nbytes)
    rows = spark.read.parquet(table).select("id", "set", "edhrec_rank", "released_at").collect()
    spark.stop()
    tempfile.tempdir = saved
    log_data = tracing.parse_event_log(str(log))
    return {
        "records": tracing.phase_records(spans.spans, log_data),
        "log": log_data,
        "counts": counts,
        "rows": rows,
        "stream": stream,
        "sink": sink,
    }


def test_every_phase_is_joined_to_its_jobs(traced):
    recs = {(r["op"], r["query"], r["phase"]): r for r in traced["records"]}
    for (op, name, phase), r in recs.items():
        if phase in ("action", "upsert"):
            assert r["jobs"] >= 1, (op, name, phase)
            assert r["stages"] >= 1 and r["tasks"] >= r["stages"]
            assert 0.0 <= r["job_covered_s"] <= r["wall"] + 0.01
    groups = {j["group"] for j in traced["log"]["jobs"].values()}
    assert "t0|q22_revenue_by_nation|action" in groups


def test_job_counts_repeat(traced):
    recs = {(r["op"], r["query"], r["phase"]): r for r in traced["records"]}
    for name in ("q01_pk_point_lookup", "q22_revenue_by_nation"):
        assert recs[("t0", name, "action")]["jobs"] == recs[("t1", name, "action")]["jobs"]
        assert traced["counts"][("t0", name)] == traced["counts"][("t1", name)]
    assert recs[("t2", "card_ingest", "upsert")]["jobs"] == recs[("t3", "card_ingest", "upsert")]["jobs"]


def test_layer_metrics(traced):
    layers = tracing.layer_metrics(traced["records"], ["t0", "t1", "t2", "t3"])
    assert set(layers) == set(tracing.SPAN_LAYERS)
    assert layers["operators.jobs"] > 0 and layers["operators.tasks"] > 0
    assert layers["operators.executor_run_s"] > 0 and layers["operators.scan_bytes"] > 0
    assert layers["sources.json_scan_s"] > 0 and layers["sources.json_bytes"] > 0
    assert layers["ingest.sink.jobs"] > 0
    assert layers["registry.construct_s"] > 0


def test_upserts_leave_the_expected_table(traced):
    got = {
        r["id"]: (r["set"], r["edhrec_rank"], None if r["released_at"] is None else r["released_at"].isoformat())
        for r in traced["rows"]
    }
    assert got == traced["stream"].expected_rows()
    sink = traced["sink"]["t2"]
    assert 1 <= sink["ingest.sink.partitions_rewritten"] <= 6
    assert sink["ingest.sink.bytes_written"] > 0
