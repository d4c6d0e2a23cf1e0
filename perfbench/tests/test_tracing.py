import json

import pytest

from perfbench import inputs, tracing, udfs


def _task(stage, run_ms, cpu_ns=1_000_000, shuffle_w=0, sent=None):
    acc = []
    if sent is not None:
        acc = [{"Name": "data sent to Python workers", "Update": str(sent)},
               {"Name": "data returned from Python workers", "Update": str(2 * sent)},
               {"Name": "number of input batches", "Update": "1"}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "Executor Deserialize CPU Time": 0, "JVM GC Time": 5,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read": 0},
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}}


def test_event_log_totals_per_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pass0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "rung.scan.0"}},
        _task(0, 100, sent=1_000_000), _task(0, 100, sent=3_000_000),
        _task(0, 400), _task(1, 10, shuffle_w=2_000_000), _task(2, 50),
    ]
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    groups = tracing.read_event_log(str(path))
    m = tracing.group_metrics(groups["pass0"])
    assert m["spark.jobs"] == 1 and m["spark.tasks"] == 4
    assert m["spark.task_skew"] == 4.0  # stage 0: max 400 / median 100
    assert m["python.mb_sent"] == 4.0 and m["python.mb_received"] == 8.0
    assert m["python.batches"] == 2
    assert m["spark.shuffle_write_mb"] == 2.0
    assert abs(m["spark.executor_cpu_s"] - 0.004) < 1e-12
    assert tracing.group_metrics(groups["rung.scan.0"])["spark.tasks"] == 1


def test_tracer_nests_spans(tmp_path):
    tr = tracing.Tracer("t")
    with tr.span("outer", a=1):
        with tr.span("inner") as attrs:
            attrs["n"] = 2
    inner, outer = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    tr.write(str(tmp_path / "spans.json"), result={"x": 1})
    doc = json.loads((tmp_path / "spans.json").read_text())
    assert [s["name"] for s in doc["spans"]] == ["outer", "inner"]
    assert doc["spans"][1]["attrs"] == {"n": 2}


def test_native_probes_time_every_kernel():
    from ch_pdf_parse_spark import native

    if not native.available():
        pytest.skip("no C compiler")
    m = tracing.native_probes(udfs.span_docs_batch(range(70), seed=2),
                              inputs.dedup_rows(50, seed=2)["text"], reps=2)
    assert m["native.extract_accept_ratio"] == 1.0  # 2 batches, none declined
    assert all(m[k] > 0 for k in ("native.extract_ms_per_kdoc",
                                  "native.parse_ms_per_mb",
                                  "native.minhash_ms_per_kdoc"))
