"""The benchmark's own arithmetic on hand-made inputs (no Spark session).

Run from the repository root:  python3 -m pytest cdcbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cdcbench import measure, oracle

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------- order statistics --
def test_nearest_rank_and_median():
    vals = [7, 1, 3, 10, 2, 9, 4, 8, 6, 5]
    assert measure.nearest_rank(vals, 50) == 5
    assert measure.nearest_rank(vals, 90) == 9
    assert measure.nearest_rank(vals, 100) == 10
    assert measure.nearest_rank([4.0], 1) == 4.0
    assert measure.median([3, 1, 2]) == 2
    assert measure.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        measure.nearest_rank(vals, 0)
    with pytest.raises(ValueError):
        measure.median([])


def test_tail_percentile_needs_ten_samples_beyond():
    assert measure.tail_percentile(list(range(1, 20))) is None
    assert measure.tail_percentile(list(range(1, 31))) == (50, 15)
    assert measure.tail_percentile(list(range(1, 101))) == (90, 90)
    assert measure.tail_percentile(list(range(1, 1001))) == (99, 990)


# ------------------------------------------------------------- manifests --
def test_changed_buckets_counts_relocated_buckets_only():
    empty = {"0": None, "1": None, "2": None}
    first = {"0": "commit-1", "1": "commit-1", "2": None}
    second = {"0": "commit-2", "1": "commit-1", "2": "commit-2"}
    assert measure.changed_buckets(None, first) == [0, 1]
    assert measure.changed_buckets(empty, first) == [0, 1]
    assert measure.changed_buckets(first, second) == [0, 2]
    assert measure.changed_buckets(second, second) == []


def test_write_amp():
    assert measure.write_amp(100, 25) == 4.0
    assert measure.write_amp(8, 8) == 1.0
    with pytest.raises(ValueError):
        measure.write_amp(10, 0)


def test_live_files_and_footers(tmp_path):
    table = tmp_path / "t"
    for commit, bucket, rows in (("commit-1", 0, 3), ("commit-1", 1, 2), ("commit-2", 1, 4)):
        d = table / "data" / commit / f"_bucket={bucket}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"x": list(range(rows))}), d / "part-0.parquet")
    manifest = {"bucket_locations": {"0": "commit-1", "1": "commit-2", "2": None}}
    files = measure.live_files(str(table), manifest)
    assert [os.path.relpath(f, table) for f in files] == [
        os.path.join("data", "commit-1", "_bucket=0", "part-0.parquet"),
        os.path.join("data", "commit-2", "_bucket=1", "part-0.parquet"),
    ]
    totals = measure.footer_totals(files)
    assert totals["files"] == 2 and totals["rows"] == 7
    assert totals["bytes"] == sum(os.path.getsize(f) for f in files)


# ------------------------------------------------------------- event log --
def _job(jid, desc, execution, stages):
    props = {"spark.job.description": desc} if desc else {}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
            "Properties": props}


def _task(stage, ms, shuffle=0, records=0, disk_spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
        "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Records Written": records},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": disk_spill,
        },
    }


def _plan(*children, name="WholeStageCodegen"):
    return {"nodeName": name, "children": list(children)}


def test_attribute_stages_by_job_label():
    exchange = lambda *c: _plan(*c, name="Exchange")  # noqa: E731
    events = [
        _job(0, "it1:lake.merge", 7, [0, 1]),
        # job 1 lists stage 1 again (skipped there): it stays job 0's
        _job(1, "it1:lake.merge", 7, [1, 2]),
        _job(2, None, 8, [3]),
        _job(3, "it1:lake.changes", 9, [4]),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "sparkPlanInfo": _plan(exchange(_plan()))},
        # the adaptive re-plan is final: two shuffles, one broadcast
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 7,
         "sparkPlanInfo": _plan(exchange(exchange(_plan())), _plan(name="BroadcastExchange"))},
        _task(0, 50, shuffle=100), _task(0, 60, shuffle=200, disk_spill=5),
        _task(1, 70, shuffle=30),
        # the write stage: 3 data tasks and an empty one
        _task(2, 40, records=10), _task(2, 80, records=30), _task(2, 20, records=20),
        _task(2, 1),
        _task(3, 500, shuffle=999),  # unlabelled job: ignored
        _task(4, 9, shuffle=1),
    ]
    out = measure.attribute_stages(events)
    assert set(out) == {"it1:lake.merge", "it1:lake.changes"}
    merge = out["it1:lake.merge"]
    assert merge["shuffle_write_bytes"] == 330
    assert merge["disk_spill_bytes"] == 5
    assert merge["exchanges"] == 2
    assert sorted(merge["write_task_ms"]) == [20, 40, 80]
    assert measure.task_skew(merge["write_task_ms"]) == 2.0
    assert out["it1:lake.changes"]["write_task_ms"] == []


def test_read_event_log(tmp_path):
    (tmp_path / "local-1").write_text(
        json.dumps({"Event": "A"}) + "\n\n" + json.dumps({"Event": "B"}) + "\n"
    )
    assert [e["Event"] for e in measure.read_event_log(str(tmp_path))] == ["A", "B"]


# ---------------------------------------------------------------- oracle --
IMAGE = pa.struct([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


def _ts(s):
    return dt.datetime(2023, 11, 14, 22, 13, 20) + dt.timedelta(seconds=s)


def _img(conv, turn, text, ts, tool=None):
    return {"conv_id": conv, "turn_idx": turn, "role": "user", "text": text,
            "tool": tool, "ts": _ts(ts)}


def _events(path, rows):
    cols = ("file_seq", "log_pos", "op", "db_name", "table_name", "schema_version",
            "before", "after")
    schema = pa.schema([
        ("file_seq", pa.int32()), ("log_pos", pa.int64()), ("op", pa.string()),
        ("db_name", pa.string()), ("table_name", pa.string()),
        ("schema_version", pa.int32()), ("before", IMAGE), ("after", IMAGE),
    ])
    pq.write_table(pa.Table.from_pylist([dict(zip(cols, r)) for r in rows], schema), path)
    return str(path)


def _table_file(path, rows):
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
        ("_op", pa.string()), ("_ts", pa.timestamp("us")), ("_file_seq", pa.int32()),
        ("_log_pos", pa.int64()),
    ])
    names = schema.names
    pq.write_table(pa.Table.from_pylist([dict(zip(names, r)) for r in rows], schema), path)
    return str(path)


def test_oracle_lww_and_order_independent_hash(tmp_path):
    in_scope = ("test", "transcripts")
    src = _events(tmp_path / "events.parquet", [
        (0, 4, "I", *in_scope, 1, None, _img("a", 0, "x", 10)),
        (0, 132, "U", *in_scope, 1, _img("a", 0, "x", 10), _img("a", 0, "y", 20)),
        # replayed duplicate and a late event with a later position: both lose
        (0, 132, "U", *in_scope, 1, _img("a", 0, "x", 10), _img("a", 0, "y", 20)),
        (1, 4, "U", *in_scope, 1, _img("a", 0, "y", 20), _img("a", 0, "late", 15)),
        (0, 260, "I", *in_scope, 1, None, _img("b", 1, "gone", 5)),
        (0, 388, "D", *in_scope, 1, _img("b", 1, "gone", 6), None),
        (0, 516, "I", "other", "noise", 2, None, _img("c", 2, "noise", 7)),
        # schema epoch 1 predates `tool`: it never lands
        (0, 644, "I", *in_scope, 1, None, _img("d", 3, "v1", 8, tool="tool_1")),
        (1, 132, "I", *in_scope, 2, None, _img("e", 4, "v2", 30, tool="tool_2")),
    ])
    expected = oracle.expected_digest([src], "^test$", "^transcripts$")
    assert expected[0] == 3

    live = [
        ("a", 0, "user", "y", None, _ts(20), "U", _ts(20), 0, 132),
        ("d", 3, "user", "v1", None, _ts(8), "I", _ts(8), 0, 644),
        ("e", 4, "user", "v2", "tool_2", _ts(30), "I", _ts(30), 1, 132),
    ]
    tomb = ("b", 1, None, None, None, _ts(6), "D", _ts(6), 0, 388)
    one = _table_file(tmp_path / "one.parquet", [live[0], tomb, live[1], live[2]])
    assert oracle.table_digest([one]) == expected
    # the same rows split over two files in another order hash the same
    f1 = _table_file(tmp_path / "f1.parquet", [live[2], tomb])
    f2 = _table_file(tmp_path / "f2.parquet", [live[1], live[0]])
    assert oracle.table_digest([f1, f2]) == expected
    # one changed value changes the hash, not the count
    bad = _table_file(tmp_path / "bad.parquet", [live[0][:3] + ("z",) + live[0][4:], *live[1:]])
    n, h = oracle.table_digest([bad])
    assert n == expected[0] and h != expected[1]
    assert oracle.table_digest([]) == (0, 0)


# ------------------------------------------------------- benchmark contract --
def test_benchmark_json_names_what_the_run_prints():
    from cdcbench.loop import END_TO_END, PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        m[:3] for m in PER_LAYER
    ]
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])
