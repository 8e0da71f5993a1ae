"""Tests of the event-log folder and the metric registry.

Run from the repository root:  python3 -m pytest perfbench/tests -q

The fixture is a trimmed recorded log (see trim_log.py) whose job
descriptions name these ops: 0 build, 1 block-rows write, 2 select,
3 phrase select, 4 select_batch, 5 append-only commit, 6 reopen, 7 select
on the reopened index, 8 compact.
"""

import gzip
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import metrics as M  # noqa: E402
from eventlog import OpStats, classify, fold  # noqa: E402

FIXTURE = os.path.join(HERE, "data", "small_eventlog.json.gz")


@pytest.fixture(scope="module")
def ops():
    with gzip.open(FIXTURE, "rt", encoding="utf-8") as f:
        return fold(f)


def test_every_op_has_jobs_and_tasks(ops):
    assert sorted(ops, key=int) == [str(i) for i in range(9)]
    for op, st in ops.items():
        assert st.jobs >= 1 and st.tasks >= 1, op
        assert st.stages >= 1 and st.failed_tasks == 0, op
        assert 0 < st.job_covered_s() < 60, op


def test_build_splits_tokenize_from_encode(ops):
    st = ops["0"]
    for cls in ("tokenize", "encode"):
        assert st.py(cls, "py_run_ms") > 0
        assert st.py(cls, "py_bytes_in") > 0
        assert st.py(cls, "py_bytes_out") > 0
        assert st.py(cls, "rows_out") > 0
    # stage T runs on the 4 corpus partitions, stage P on the 8-way exchange
    assert st.node_tasks == {"tokenize": 4, "encode": 8}
    assert st.py("decode", "py_run_ms") == 0
    # py() reports the Python run time in seconds
    assert st.py("tokenize", "py_run_ms") == st.node[("tokenize", "py_run_ms")] / 1000.0


def test_queries_attribute_decode_and_broadcasts(ops):
    for op in ("2", "3", "4", "7"):
        st = ops[op]
        assert st.py("decode", "py_run_ms") > 0, op
        assert st.py("decode", "rows_out") >= 1, op
        assert st.broadcasts >= 1, op
        assert st.node[("broadcast", "bytes")] > 0, op
        assert st.py("tokenize", "py_run_ms") == 0 and st.py("encode", "py_run_ms") == 0, op
    # the phrase select decodes more blocks than the two-term select
    assert ops["3"].py("decode", "rows_out") > ops["2"].py("decode", "rows_out")


def test_write_and_reopen_run_no_python(ops):
    for op in ("1", "6"):
        assert not any(cls in ("tokenize", "encode", "decode", "python") for cls, _ in ops[op].node), op


def test_commit_and_compact_reencode(ops):
    assert ops["5"].py("tokenize", "py_run_ms") > 0  # the new docs' stage T
    assert ops["5"].py("encode", "py_run_ms") > 0
    # compact decodes the dirty blocks, re-encodes positions and blocks
    for cls in ("decode", "python", "encode"):
        assert ops["8"].py(cls, "py_run_ms") > 0, cls


def test_undescribed_jobs_are_dropped():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 0, "Stage IDs": [0], "Properties": {}}),
        json.dumps({"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 5}),
    ]
    assert fold(lines) == {}


def _task(stage, accs, shuffle_read=0):
    return json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Launch Time": 0, "Finish Time": 10, "Accumulables": accs},
            "Task Metrics": {
                "Executor Run Time": 8,
                "Shuffle Read Metrics": {"Local Bytes Read": shuffle_read},
            },
        }
    )


def test_unplanned_python_nodes_fall_back_to_layer_and_stage_shape():
    py = [
        {"ID": 100, "Name": "time to run Python workers", "Update": "7"},
        {"ID": 101, "Name": "number of output rows", "Update": "3"},
        {"ID": 102, "Name": "number of output rows", "Update": "9"},
    ]
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 0, "Stage IDs": [1, 2], "Properties": {"spark.job.description": "index.build|b"}}),
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 0, "Stage IDs": [3], "Properties": {"spark.job.description": "query.engine|q"}}),
        _task(1, py),
        _task(2, py, shuffle_read=64),
        _task(3, py),
    ]
    ops = fold(lines)
    b, q = ops["b"], ops["q"]
    assert b.node[("tokenize", "py_run_ms")] == 7 and b.node[("encode", "py_run_ms")] == 7
    # only the count right after the Python block is the node's row count
    assert b.node[("tokenize", "rows_out")] == 3
    assert q.node[("decode", "py_run_ms")] == 7 and q.node[("decode", "rows_out")] == 3
    assert b.scheduler_delay_s == pytest.approx(0.004)


def test_classify():
    assert classify("MapInPandas", "MapInPandas fn(doc_id#0L, content#5)#197, [term#198, doc_id#199L, sid#200, tf#201L, dl#202L, pos_bytes#203], false") == "tokenize"
    assert classify("MapInPandas", "MapInPandas encode_iter(term#198, pos_bytes#203)#843, [term#844, blocks#849], false") == "encode"
    assert classify("ArrowEvalPython", "ArrowEvalPython [fn(struct(first_doc_id, b#2194.first_doc_id, n, b#2194.n))#2206], [pythonUDF0#2410], 204") == "decode"
    assert classify("ArrowEvalPython", "ArrowEvalPython [_pos_enc_batch(p#1.positions)], [pythonUDF0#3], 200") == "python"
    assert classify("BroadcastExchange", "BroadcastExchange HashedRelationBroadcastMode(...)") == "broadcast"
    assert classify("Exchange", "Exchange hashpartitioning(term#198, 8)") is None


def test_job_covered_merges_overlaps():
    st = OpStats(job_spans=[(0, 1000), (500, 1500), (3000, 3500)])
    assert st.job_covered_s() == pytest.approx(2.0)
    assert OpStats().job_covered_s() == 0


def test_benchmark_json_matches_registry():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(M.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]} == M.E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        n: (r[0], M.better(n)) for n, r in M.PER_LAYER.items()
    }
    # every layer row works on some workload and names an end-to-end figure
    for name, (_, where, moves, _) in M.PER_LAYER.items():
        assert set(where) <= set(M.WORKLOADS) and where, name
        assert set(moves) <= set(M.E2E) | set(M.REPORTED), name


def test_benchmark_json_is_well_formed():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= bench["run_seconds"] <= 60 and 2 <= len(bench["workloads"]) <= 8
    name = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    unit = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
    names = [w["name"] for w in bench["workloads"]]
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert name.fullmatch(m["name"]) and unit.fullmatch(m["unit"]), m
        assert m["better"] in ("higher", "lower")
        names.append(m["name"])
    assert len(names) == len(set(names))
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])
