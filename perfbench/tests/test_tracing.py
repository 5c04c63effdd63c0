from pathlib import Path

import pytest

from tracing import (Tracer, attribute, layer_metrics, module_of_callsite,
                     parse_event_log)

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog_small.jsonl"

SPANS = [
    {"id": 0, "name": "op", "parent": None, "start": 1000.0, "end": 1010.0,
     "dur": 10.0, "layer": "op", "timed": True},
    {"id": 1, "name": "plans.call", "parent": 0, "start": 1000.5, "end": 1008.0,
     "dur": 7.5, "layer": "plans"},
    {"id": 2, "name": "plans.force", "parent": 0, "start": 1008.0, "end": 1009.5,
     "dur": 1.5, "layer": "plans"},
]


def _log():
    log = parse_event_log(FIXTURE)
    attribute(log, SPANS)
    return log


def test_parse_counts_tasks_once_per_stage():
    jobs = parse_event_log(FIXTURE)["jobs"]
    assert sorted(jobs) == [0, 1, 2, 3, 4]
    # stage 1 is listed by jobs 0 and 1; its task belongs to the first
    assert jobs[0]["tasks"] == 2 and jobs[0]["task_ms"] == 500
    assert jobs[0]["shuffle_write"] == 500 and jobs[0]["spill"] == 64
    assert jobs[1]["tasks"] == 1 and jobs[1]["task_ms"] == 100


def test_streaming_events_keyed_by_run_id():
    st = parse_event_log(FIXTURE)["streams"]["run-a"]
    assert st["start_ms"] == pytest.approx(1_002_000.0)
    assert st["progress"] == [{"duration_ms": {"triggerExecution": 300, "addBatch": 250,
                                               "queryPlanning": 20, "walCommit": 10},
                               "input_rows": 40}]


def test_attribution_by_group_run_id_and_callsite():
    jobs = _log()["jobs"]
    assert jobs[0]["span"] == 1 and jobs[0]["module"] == "sources.writers"
    # no call site: inherits the root SQL execution's module
    assert jobs[1]["span"] == 1 and jobs[1]["module"] == "sources.writers"
    # the stream's run id maps to the span open when the stream started
    assert jobs[2]["span"] == 1 and jobs[2]["stream"] == "run-a"
    assert jobs[2]["module"] == "streaming"
    assert jobs[3]["span"] == 2 and jobs[3]["module"] == "plans._eager"
    assert jobs[4]["span"] is None


def test_layer_metrics_per_op():
    m = layer_metrics(_log(), SPANS, n_ops=1, cores=4)
    assert m["unattributed_jobs"] == 1
    assert m["plans.jobs_per_op"] == 4
    assert m["plans.tasks_per_op"] == 5
    assert m["sources.writers.jobs"] == 2
    assert m["eager.proof.jobs"] == 1
    assert m["streaming.jobs"] == 1 and m["streaming.batches"] == 1
    assert m["streaming.input_rows"] == 40 and m["streaming.add_batch_ms"] == 250
    # force span: 0.4 s of task time over 1.5 s on 4 cores
    assert m["plans.task_busy_share"] == pytest.approx(0.4 / (1.5 * 4))


def test_module_of_callsite():
    assert module_of_callsite(
        "take at /r/market_data_pipeline_databricks_spark/plans/_eager.py:169"
    ) == "plans._eager"
    assert module_of_callsite("call at /py/py4j/clientserver.py:644") is None
    assert module_of_callsite(None) is None


def test_tracer_nests_spans_without_spark():
    t = Tracer()
    with t.span("op", timed=True):
        with t.span("child"):
            pass
    op, child = t.spans
    assert child["parent"] == op["id"] and op["parent"] is None
    assert op["start"] <= child["start"] <= child["end"] <= op["end"]
    assert t.self_time(op["id"]) == pytest.approx(op["dur"] - child["dur"], abs=1e-3)
