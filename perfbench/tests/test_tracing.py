"""Event-log parser, span arithmetic and the tail rule.

``data/eventlog_sf0001.jsonl`` is a Spark 4.1 event log captured from a
``local[4]`` session over generated sf0.001 inputs: ``q1_pricing_summary``
under job group ``op-q1``, ``simhash_hamming_neardup`` (an Arrow kernel)
under ``op-simhash`` and ``streaming_lsh_dedup`` under ``op-stream``,
whose micro-batch jobs run under Spark's own streaming group.  To keep
the file small, only the event kinds the parser reads are kept, job
starts lose ``Stage Infos`` and all properties but ``spark.job*``, and
task ends keep only the Python-worker accumulables.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import stats  # noqa: E402
import tracing  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_sf0001.jsonl")


@pytest.fixture(scope="module")
def parsed():
    with open(LOG) as f:
        events = [json.loads(line) for line in f]
    return tracing.parse_events(events)


def test_read_event_logs_finds_rolling_dirs(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    with open(LOG) as src, open(d / "events_1_local-1", "w") as dst:
        dst.write(src.read())
    (d / "appstatus_local-1").write_text("")
    events = tracing.read_event_logs(str(tmp_path))
    assert events and all(e["Event"] in tracing.KEEP_EVENTS for e in events)


def test_job_ids_are_kept_apart_per_application(tmp_path):
    for app in ("local-1", "local-2"):  # two sessions: ids restart at 0
        d = tmp_path / f"eventlog_v2_{app}"
        d.mkdir()
        with open(LOG) as src, open(d / f"events_1_{app}", "w") as dst:
            dst.write(src.read())
    jobs, batches = tracing.parse_events(tracing.read_event_logs(str(tmp_path)))
    with open(LOG) as f:
        one, _ = tracing.parse_events([json.loads(line) for line in f])
    assert len(jobs) == 2 * len(one)
    assert sum(j["tasks"] for j in jobs) == 2 * sum(j["tasks"] for j in one)


def test_jobs_carry_group_stages_and_tasks(parsed):
    jobs, _ = parsed
    groups = {j["group"] for j in jobs}
    assert {"op-q1", "op-simhash", "op-stream"} <= groups
    for j in jobs:
        assert j["end_ms"] >= j["submit_ms"]
        assert j["tasks"] >= j["stages"]
    q1 = [j for j in jobs if j["group"] == "op-q1"]
    assert sum(j["input_b"] for j in q1) > 0
    assert sum(j["shuffle_write_b"] for j in q1) == sum(j["shuffle_read_b"] for j in q1) > 0


def test_python_worker_metrics_only_on_the_arrow_op(parsed):
    jobs, _ = parsed
    py = lambda g, k: sum(j[k] for j in jobs if j["group"] == g)  # noqa: E731
    assert py("op-simhash", "py_run_ms") > 0
    assert py("op-simhash", "py_sent_b") > 0 and py("op-simhash", "py_recv_b") > 0
    assert py("op-q1", "py_run_ms") == 0


def test_streaming_progress_is_parsed(parsed):
    _, batches = parsed
    assert len(batches) >= 1
    assert all(b["trigger_ms"] > 0 and b["start_ms"] > 0 for b in batches)


def test_stream_jobs_join_their_op_by_time_window(parsed):
    jobs, batches = parsed
    stream_jobs = [j for j in jobs if j["group"] == "op-stream"]
    other = [j for j in jobs if j["group"] not in {"op-q1", "op-simhash", "op-stream"}]
    assert other, "the capture holds micro-batch jobs under Spark's own group"
    t0 = min(j["submit_ms"] for j in stream_jobs) / 1e3
    t1 = max(j["end_ms"] for j in stream_jobs + other) / 1e3
    ops = [{"id": "op-stream", "start": t0, "end": t1}]
    got = tracing.assign_jobs(ops, jobs)["op-stream"]
    assert {j["job"] for j in stream_jobs + other} == {j["job"] for j in got}


def test_probe_group_jobs_are_never_assigned():
    jobs = [{"job": "0.0", "group": tracing.PROBE_GROUP, "submit_ms": 1500, "end_ms": 1600}]
    ops = [{"id": "a", "start": 1.0, "end": 2.0}]
    assert tracing.assign_jobs(ops, jobs) == {"a": []}


def test_op_layers_split(parsed):
    jobs, batches = parsed
    mine = [j for j in jobs if j["group"] == "op-simhash"]
    t0 = min(j["submit_ms"] for j in mine) / 1e3 - 0.5
    t1 = max(j["end_ms"] for j in mine) / 1e3 + 0.5
    op = {"id": "op-simhash", "start": t0, "end": t1, "query_fn_s": 0.2,
          "action_s": t1 - t0 - 0.2, "action_start": t0 + 0.2}
    spans = [{"id": 0, "name": "io.table", "start": t0, "end": t0 + 0.1, "parent": None,
              "op": "op-simhash"}]
    row = tracing.op_layers(op, mine, spans, batches)
    assert row["spark.jobs"] == len(mine)
    assert row["io.table_calls"] == 1 and row["io.table_s"] == pytest.approx(0.1)
    assert row["io.self_s"] == pytest.approx(0.1)
    covered = tracing.union_length([(j["submit_ms"] / 1e3, j["end_ms"] / 1e3) for j in mine])
    assert row["driver.outside_jobs_s"] == pytest.approx((t1 - t0) - covered)
    assert 0 < row["spark.cpu_per_run"] <= 1.5
    assert row["python.run_s"] > 0


def test_union_length_merges_overlaps():
    assert tracing.union_length([]) == 0
    assert tracing.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert tracing.union_length([(0, 10), (1, 2), (3, 4)]) == pytest.approx(10.0)


def test_self_time_subtracts_child_coverage():
    spans = [
        {"id": 0, "name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "a", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "b", "start": 3.0, "end": 6.0, "parent": 0},  # overlaps a
        {"id": 3, "name": "c", "start": 2.0, "end": 3.0, "parent": 1},
        {"id": 4, "name": "late", "start": 9.0, "end": 12.0, "parent": 0},  # clipped
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10 - (5 + 1))  # [1,6] and [9,10]
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(3)


def test_tail_rule():
    rounds = [[1.0, 2.5, 2.0], [0.9, 2.1, 1.8], [0.8, 1.9, 1.7]]
    assert stats.tail(rounds) == 2.1  # median of 2.5, 2.1, 1.9
    assert stats.tail([[1.0, 9.0], [1.0, 2.0], [1.0, 3.0]]) == 3.0  # one stalled op
    assert stats.tail([[5.0, 1.0, 3.0]]) == 5.0  # one round: its slowest op
    assert stats.tail([[1.0, 4.0], [2.0, 2.0]]) == 3.0  # two rounds: the mean


def test_spread_is_iqr_over_median():
    assert stats.spread([1.0] * 10) == 0.0
    assert stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5)


def test_tracer_install_restores_every_binding():
    pytest.importorskip("pyspark")
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    import fxblue_etl_spark.io as io_mod
    import fxblue_etl_spark.sources.fxblue_csv as csv_mod

    before_io = dict(vars(io_mod))
    before_csv = dict(vars(csv_mod))
    tr = tracing.Tracer()
    assert tr.install() > 20
    assert io_mod.table is not before_io["table"]
    assert csv_mod.table is io_mod.table  # rebound where imported
    with tr.span("op"):
        pass
    tr.restore()
    assert dict(vars(io_mod)) == before_io
    assert dict(vars(csv_mod)) == before_csv
