"""Tests for the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import common
import fixtures as fx
import oracle
import spans as sp

HERE = os.path.dirname(os.path.abspath(__file__))


# --- tail percentile rule ----------------------------------------------------


@pytest.mark.parametrize("n,label", [
    (5, "p50"), (19, "p50"), (20, "p50"), (40, "p75"), (100, "p90"),
    (200, "p95"), (1000, "p99"), (9999, "p99"), (10000, "p99.9"),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, label):
    _value, got = common.tail([float(i) for i in range(n)])
    assert got == label


def test_tail_values():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert common.tail(xs) == (pytest.approx(90.1), "p90")
    assert common.tail([3.0, 1.0, 2.0, 10.0]) == (2.5, "p50")  # too few for a tail
    assert common.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5


# --- span arithmetic -----------------------------------------------------------


def _span(sid, start, end, parent=None, name="x", **attrs):
    return sp.Span(sid, parent, "r", name, start, end, attrs)


def test_union_length_merges_overlaps_and_clips():
    assert sp.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert sp.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert sp.union_length([], 0, 1) == 0
    assert sp.union_length([(2, 3)], 0, 1) == 0


def test_self_time_subtracts_union_of_children():
    parent = _span("p", 0.0, 10.0)
    kids = [_span("a", 1.0, 4.0, "p"), _span("b", 3.0, 5.0, "p"),
            _span("c", 9.0, 12.0, "p")]  # c runs past the parent's end
    assert sp.self_time(parent, kids) == pytest.approx(10 - 4 - 1)
    assert sp.self_time(parent, []) == 10.0


def test_driver_gap_is_wall_minus_job_union():
    s = _span("s", 10.0, 20.0)
    assert sp.driver_gap(s, [(11, 13), (12, 14), (18, 25)]) == pytest.approx(10 - 3 - 2)
    assert sp.driver_gap(s, []) == 10.0


def test_span_breakdown_attributes_jobs_by_group_and_stream_batch():
    spans = [
        _span("r.0", 0, 10, name="commit"),
        _span("r.1", 1, 4, "r.0", name="cdc.versioned.prepare"),
        _span("r.2", 5, 9, "r.0", name="cdc.versioned.apply"),
        _span("r.3", 20, 22, name="streaming.add_batch", run_id="abc", batch_id=7),
    ]
    jobs = [
        sp.Job(0, "r.1", None, 1.5, 2.5, {1, 2}, 4, 3.0, 100, 0),
        sp.Job(1, "r.2", None, 5.0, 8.0, {3}, 2, 5.0, 0, 10),
        sp.Job(2, None, "\nid = q\nrunId = abc\nbatch = 7", 20.5, 21.5, {4}, 1, 1.0, 0, 0),
        sp.Job(3, None, None, 3.0, 3.5),  # e.g. from an unmanaged thread pool
        sp.Job(4, "not-a-span", None, 3.0, 3.5),
    ]
    out, unattributed = sp.span_breakdown(spans, jobs)
    assert unattributed == 2
    assert out["r.1"]["jobs"] == 1 and out["r.1"]["tasks"] == 4
    assert out["r.1"]["driver_gap_s"] == pytest.approx(3 - 1)
    # The parent sums its subtree and subtracts its children from self time.
    assert out["r.0"]["jobs"] == 2 and out["r.0"]["stages"] == 3
    assert out["r.0"]["executor_run_s"] == 8.0 and out["r.0"]["spill_bytes"] == 10
    assert out["r.0"]["self_s"] == pytest.approx(10 - 3 - 4)
    assert out["r.0"]["driver_gap_s"] == pytest.approx(10 - 1 - 3)
    assert out["r.3"]["jobs"] == 1 and out["r.3"]["driver_gap_s"] == pytest.approx(1)


def test_parse_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r.1",
                                              "spark.job.description": "d"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 250, "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 750}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [1, 2]},  # stage 1 is shared: it belongs to job 0
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4500},
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    j0, j1 = sp.parse_event_log(str(log))
    assert (j0.group, j0.start, j0.end) == ("r.1", 1.0, 3.0)
    assert j0.tasks == 2 and j0.stages == {0, 1}
    assert j0.executor_run_s == pytest.approx(1.0)
    assert j0.shuffle_bytes == 10 and j0.spill_bytes == 6
    assert j1.group is None and j1.tasks == 0


def test_tracer_nests_spans_and_writes_them(tmp_path):
    t = sp.Tracer("run")
    with t.span("outer"):
        with t.span("inner", k=1):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    path = tmp_path / "spans.jsonl"
    t.write(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert {"span_id", "parent", "run_id", "name", "start", "end"} <= set(rows[0])
    assert rows[1]["attrs"] == {"k": 1}


# --- latest-wins replay oracle --------------------------------------------------


def test_replay_latest_wins_by_ts_then_offset():
    initial = {1: "a", 2: "b", 3: "c"}
    events = [  # (key, row, op, ts_ms, off), deliberately out of order
        (1, "a2", "u", 10, 5),
        (1, "a1", "u", 10, 4),
        (2, None, "d", 11, 6),
        (2, "b-again", "c", 12, 7),
        (3, None, "d", 9, 3),
        (4, "new", "c", 9, 1),
        (4, "newer", "u", 8, 2),  # earlier ts: applied before the insert
    ]
    assert oracle.replay(initial, events) == {1: "a2", 2: "b-again", 4: "new"}
    assert initial == {1: "a", 2: "b", 3: "c"}  # not mutated


def test_versioned_replay_reads_any_version_and_diffs():
    initial = {1: "a", 2: "b"}
    rep = oracle.VersionedReplay(initial)
    assert rep.commit([(1, "a1", "u", 1, 0), (3, "c", "c", 1, 1)]) == 1
    assert rep.commit([(2, None, "d", 2, 2), (1, "a1", "u", 2, 3)]) == 2
    assert rep.head == {1: "a1", 3: "c"}
    assert rep.at(1, 0, initial) == "a" and rep.at(1, 1, initial) == "a1"
    assert rep.at(2, 1, initial) == "b" and rep.at(2, 2, initial) is None
    assert rep.changed_between(0, 2, initial) == {1: "u", 2: "d", 3: "c"}
    assert rep.changed_between(1, 2, initial) == {2: "d"}  # 1 rewritten unchanged


# --- dead-letter expectation -----------------------------------------------------


def test_expected_dead_letters_are_exactly_unparseable_records():
    rng = np.random.default_rng(0)
    good = fx.envelope_record({"k": 1, "name": "n", "bal": 1.0, "op": "u",
                               "ts_ms": 5, "off": 9})
    bad = fx.malformed_record(rng, 2)
    no_op = {"key": 3, "value": json.dumps({"before": None, "after": None})}
    null = {"key": 4, "value": None}
    assert oracle.parses_as_event(good["value"])
    got = oracle.expected_dead_letters([good, bad, no_op, null])
    assert got == sorted([(2, bad["value"]), (3, no_op["value"]), (4, None)],
                         key=lambda r: (r[0], r[1] or ""))


def test_envelope_record_matches_envelope_schema_fields():
    rec = fx.envelope_record({"k": 7, "name": None, "bal": None, "op": "d",
                              "ts_ms": 3, "off": 11})
    env = json.loads(rec["value"])
    assert rec["key"] == 7 and env["op"] == "d" and env["after"] is None
    assert env["before"]["k"] == 7 and env["source"]["lsn"] == 11


# --- generated inputs -----------------------------------------------------------


def test_customer_changes_are_seeded_and_name_live_keys():
    def run(seed):
        initial = {k: ("n", 0.0) for k in range(100)}
        gen = fx.CustomerChanges(np.random.default_rng(seed), initial)
        return gen, [gen.batch(50, ts_ms=i) for i in range(5)]

    g1, b1 = run(3)
    _g2, b2 = run(3)
    assert b1 == b2
    live = set(range(100))
    for batch in b1:
        for e in batch:
            if e["op"] == "c":
                assert e["k"] not in live
                live.add(e["k"])
            else:
                assert e["k"] in live
                if e["op"] == "d":
                    live.remove(e["k"])
    assert live == g1.live


def test_lineitem_changes_track_the_live_key_set():
    import pyarrow as pa

    rng = np.random.default_rng(5)
    li = pa.table({"l_orderkey": np.repeat(np.arange(200, dtype="int64"), 3),
                   "l_linenumber": pa.array(np.tile([1, 2, 3], 200).astype("int32"))})
    gen = fx.LineitemChanges(rng, li)
    state = {(o, n): 1 for o, n in zip(li.column(0).to_pylist(), li.column(1).to_pylist())}
    for i in range(3):
        tbl = gen.batch(80, ts_ms=i)
        events = list(zip(zip(tbl.column("l_orderkey").to_pylist(),
                              tbl.column("l_linenumber").to_pylist()),
                          [1] * tbl.num_rows, tbl.column("op").to_pylist(),
                          tbl.column("ts_ms").to_pylist(), tbl.column("off").to_pylist()))
        state = oracle.replay(state, events)
        assert tbl.num_rows == 80
        assert len(state) == 600  # inserts equal deletes
    assert set(state) == {(int(k) // 8, int(k) % 8) for k in gen.live}


def test_lake_tables_are_seeded_per_table(tmp_path):
    a = fx.write_lake(9, str(tmp_path / "a"), ["customer", "region"])
    b = fx.generate(9, ["region", "documents", "customer"])
    assert a["customer"].equals(b["customer"]) and a["region"].equals(b["region"])
    assert not a["customer"].equals(fx.generate(10, ["customer"])["customer"])
    assert sorted(os.listdir(tmp_path / "a")) == ["customer.parquet", "region.parquet"]
    with pytest.raises(ValueError):
        fx.generate(9, ["no_such_table"])


# --- the benchmark definition agrees with the code --------------------------------


def test_benchmark_json_names_what_run_reports():
    import run
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert len(bench["per_layer"]) <= 128
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_read_mix_cycle_keeps_the_mix_and_runs_each_curation_query_once():
    import workloads

    cycle = workloads.READ_MIX_CYCLE
    assert cycle.count("Q") == len(workloads.CURATION)
    assert {k: cycle.count(k) for k in "PRSTDC"} == {
        "P": 10, "R": 3, "S": 3, "T": 1, "D": 1, "C": 2}
