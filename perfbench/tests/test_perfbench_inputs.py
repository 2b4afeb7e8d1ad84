"""Seeded inputs: same seed, same ops and bytes; another seed, others."""

from __future__ import annotations

import json

from cards import CardStream, write_json_array
from workloads import (
    CATALOG_WEIGHTS,
    INGEST_BATCH_SETS,
    INGEST_CARDS_PER_SET,
    INGEST_SETS,
    catalog_rng,
    catalog_round,
)


def _catalog_ops(seed: int, rounds: int = 5) -> list[str]:
    rng = catalog_rng(seed)
    return [name for _ in range(rounds) for name in catalog_round(rng)]


def _card_files(seed: int, tmp_path, batches: int = 4) -> list[bytes]:
    stream = CardStream(seed, INGEST_SETS, INGEST_CARDS_PER_SET, INGEST_BATCH_SETS)
    out = []
    for i, cards in enumerate([stream.initial()] + [stream.batch() for _ in range(batches)]):
        path = tmp_path / f"s{seed}_{i}.json"
        write_json_array(cards, str(path))
        out.append(path.read_bytes())
    return out


def test_catalog_op_order_is_seeded():
    assert _catalog_ops(7) == _catalog_ops(7)
    assert _catalog_ops(7) != _catalog_ops(8)
    # every round runs each catalog query as often as its weight says
    rng = catalog_rng(3)
    for _ in range(3):
        ops = catalog_round(rng)
        assert {name: ops.count(name) for name in ops} == CATALOG_WEIGHTS


def test_card_files_are_byte_identical_per_seed(tmp_path):
    a, b = _card_files(5, tmp_path), _card_files(5, tmp_path)
    assert a == b
    c = _card_files(6, tmp_path)
    assert all(x != y for x, y in zip(a, c))


def test_batch_mixes_every_row_kind():
    stream = CardStream(1, INGEST_SETS, 30, INGEST_BATCH_SETS)
    stream.initial()
    stream_ids = set(stream.expected)
    before = {code: set(ids) for code, ids in stream.ids_by_set.items()}
    batch = stream.batch()
    ids = [c["id"] for c in batch]
    assert any(i is None for i in ids)  # null id: dropped
    assert any(c["layout"] == "bogus_layout" for c in batch)  # dropped under strict_layout
    assert any(c["released_at"] == "not-a-date" for c in batch)  # kept, date NULL
    live = [i for c, i in zip(batch, ids) if i is not None and c["layout"] != "bogus_layout"]
    assert len(live) > len(set(live))  # duplicate ids within the batch
    assert set(live) & stream_ids  # updates to existing ids
    assert set(live) - stream_ids  # brand-new ids
    touched = {c["set"] for c in batch}
    assert len(touched) == INGEST_BATCH_SETS < INGEST_SETS // 2  # a minority of sets
    # a refresh re-sends every card the touched sets already hold
    assert set().union(*(before[code] for code in touched)) <= set(live)
    # the last row of a duplicated id is the one the table must keep
    last = {}
    for c in batch:
        if c["id"] is not None and c["layout"] != "bogus_layout":
            last[c["id"]] = c["edhrec_rank"]
    want = stream.expected_rows()
    assert all(want[i][1] == rank for i, rank in last.items())
    assert not {c["id"] for c in batch if c["layout"] == "bogus_layout"} & set(want)


def test_json_array_shape(tmp_path):
    stream = CardStream(2, 4, 3, 1)
    path = tmp_path / "cards.json"
    n = write_json_array(stream.initial(), str(path))
    assert n == path.stat().st_size
    rows = json.loads(path.read_text())
    assert isinstance(rows, list) and len(rows) == 12


def test_events_ts_is_nanoseconds():
    # the engine's real inputs store events.ts as TIMESTAMP(NANOS)
    import pyarrow as pa
    import tables

    assert tables.build_tables(scale=0.01)["events"].schema.field("ts").type == pa.timestamp("ns")
