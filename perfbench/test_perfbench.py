"""Tests of the benchmark's own code: the golden-output generator and the
event-log parser.

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import corpus  # noqa: E402
import eventlog  # noqa: E402

from janet_spark import synthetic  # noqa: E402

_TRAVELERS = "Notice of Cancellation\nTRAVELERS\nPage {page}\nPolicy 612266004\nFEBRUARY 25, 2024"


def _builder_row(a: int, conv_id: str, i: int):
    """The corpus builder call for synthetic archetype ``a``."""
    if a == 0:
        return corpus.plain(f"Turn {i} of {conv_id}: the quick brown fox jumps.")
    if a == 1:
        return corpus.padded(f"Padded turn {i} with content.")
    if a == 2:
        tokens = "Your policy is cancelled. financial flow report".split() + [f"{i}."]
        return corpus.ocr(tokens, [" "] * 5 + ["   ", " "], {3: 3})
    if a == 3:
        return corpus.plain(_TRAVELERS.format(page=1 + i % 2))
    if a == 4:
        return corpus.html(
            f"Main content {i} of {conv_id} with enough characters.",
            "Your policy is cancelled effective FEBRUARY 25, 2024.",
        )
    if a == 5:
        return corpus.tool_json(1, "Notice of Cancellation TRAVELERS".split(), {2: 3})
    if a == 6:
        return corpus.tool_prose(f"Travelers notice 612266004 turn {i}")
    return corpus.failure()


def test_builders_agree_with_synthetic_archetypes():
    t, e = synthetic.make_transcripts(n_convs=12, skew_turns=24, seed=7)
    rows = t.merge(e, on=["conv_id", "turn_idx"])
    assert len(rows) == len(t)
    for r in rows.itertuples():
        cid = int(r.conv_id.split("-")[1])
        a = synthetic._archetype(cid, r.turn_idx)
        text, tool, expected, ok = _builder_row(a, r.conv_id, r.turn_idx)
        assert (text, tool, expected, ok) == (r.text, r.tool, r.extracted_text, r.ok), a


@pytest.mark.parametrize("kind", sorted(corpus.MIXES))
def test_build_is_deterministic_per_seed(kind):
    a = corpus.build(kind, 3, 500)
    b = corpus.build(kind, 3, 500)
    c = corpus.build(kind, 4, 500)
    for name in a:
        assert a[name].equals(b[name])
    assert not a["transcripts"].equals(c["transcripts"])


@pytest.mark.parametrize("kind", sorted(corpus.MIXES))
def test_expectations_hold_for_the_extraction_kernel(kind):
    from janet_spark.extract.udfs import extract_batch

    tables = corpus.build(kind, 5, 500)
    out = extract_batch(tables["transcripts"].to_pandas())
    got = out.merge(tables["expected"].to_pandas(), on=["conv_id", "turn_idx"])
    assert len(got) == tables["transcripts"].num_rows
    assert (got["extracted_text"] == got["exp_text"]).all()
    assert (got["ok"] == got["exp_ok"]).all()
    # the golden conversation text is the turns' expected texts in order
    convs = tables["convs"].to_pandas().set_index("conv_id")
    exp = tables["expected"].to_pandas().sort_values(["conv_id", "turn_idx"])
    for conv_id, g in exp.groupby("conv_id"):
        assert convs.loc[conv_id, "exp_conv_text"] == "\n".join(g["exp_text"])
    assert convs["exp_n_turns"].max() == corpus.HEAVY_TURNS


def test_documents_hold_near_duplicates_that_differ_in_the_last_word():
    texts = corpus.documents(3).column("text").to_pylist()
    assert texts == corpus.documents(3).column("text").to_pylist()
    # copies keep every word but the last, so a near-duplicate pair sits far
    # above the 0.8 Jaccard threshold that MinHash LSH could otherwise miss
    prefixes = Counter(
        tuple(t.split(" ")[:-1]) for t in texts if len(t.split(" ")) >= corpus.MIN_COPIED_WORDS
    )
    assert sum(n >= 2 for n in prefixes.values()) >= 10


def _task_end(stage: int, launch: int, finish: int, boot_ms: int, sent: int, gc: int):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch,
            "Finish Time": finish,
            "Accumulables": [
                {"ID": 11, "Name": "time to start Python workers", "Update": str(boot_ms)},
                {"ID": 12, "Name": "data sent to Python workers", "Update": str(sent)},
            ],
        },
        "Task Metrics": {
            "JVM GC Time": gc,
            "Executor Run Time": finish - launch,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 5,
            "Shuffle Read Metrics": {"Fetch Wait Time": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
        },
    }


def test_summarize_handcrafted_log(tmp_path):
    events = [
        {
            "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "sparkPlanInfo": {
                "metrics": [],
                "children": [
                    {
                        "metrics": [
                            {"name": "time to start Python workers", "accumulatorId": 11, "metricType": "timing"},
                            {"name": "data sent to Python workers", "accumulatorId": 12, "metricType": "size"},
                        ],
                        "children": [],
                    }
                ],
            },
        },
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "timed:pass0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.job.description": "layer:scan"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 0, "Completion Time": 50, "Number of Tasks": 3}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 50, "Completion Time": 60, "Number of Tasks": 1}},
        _task_end(0, 0, 10, 200, 1000, 3),
        _task_end(0, 0, 20, 300, 1000, 0),
        _task_end(0, 0, 50, 100, 1000, 0),
        _task_end(1, 50, 60, 0, 0, 0),
        _task_end(2, 60, 70, 0, 0, 0),
    ]
    rolling = tmp_path / "eventlog_v2_local-1"
    rolling.mkdir()
    (rolling / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events[:6]) + "\n")
    (rolling / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in events[6:]) + "\n")

    log = eventlog.read(eventlog.app_log(str(tmp_path), "local-1"))
    s = eventlog.summarize(log, lambda d: d.startswith("timed:"))
    assert s["jobs"] == 1
    assert s["tasks"] == 4
    assert s["python_boot_s"] == pytest.approx(0.6)
    assert s["python_bytes_sent"] == 3000
    assert s["gc_s"] == pytest.approx(0.003)
    assert s["spill_bytes"] == 20
    assert s["shuffle_write_bytes"] == 400
    assert s["shuffle_fetch_wait_s"] == pytest.approx(0.008)
    assert s["task_skew"] == pytest.approx(50 / 20)  # stage 0 is the slowest
    assert eventlog.summarize(log, lambda d: d == "layer:scan")["tasks"] == 1
    assert eventlog.summarize(log)["tasks"] == 5


def test_summarize_spark_written_log(tmp_path):
    from janet_spark.pipeline import extract_only
    from janet_spark.session import build_session

    spark = build_session(
        "perfbench-eventlog-test",
        master="local[2]",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(tmp_path),
            "spark.eventLog.compress": "false",
        },
    )
    try:
        app_id = spark.sparkContext.applicationId
        t, _ = synthetic.make_transcripts(n_convs=6, skew_turns=20, seed=1)
        spark.sparkContext.setJobDescription("timed:tiny")
        extract_only(spark.createDataFrame(t).repartition(3)).write.format("noop").mode(
            "overwrite"
        ).save()
    finally:
        spark.stop()
    log = eventlog.read(eventlog.app_log(str(tmp_path), app_id))
    s = eventlog.summarize(log, lambda d: d.startswith("timed:"))
    assert s["jobs"] >= 1
    assert s["tasks"] >= 3
    assert s["python_bytes_sent"] > 0
    assert s["python_bytes_returned"] > 0
    assert s["python_run_s"] > 0
    assert s["task_skew"] >= 1.0
