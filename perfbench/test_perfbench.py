"""Self-tests of the benchmark's own logic (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import datetime as dt
import json
import sys
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE), str(HERE.parent / "tools")]

import pipeline  # noqa: E402
import run  # noqa: E402
from spans import reduce_event_log  # noqa: E402
from stats import tail  # noqa: E402


# ---- the percentile rule -------------------------------------------------


def test_tail_needs_ten_samples_beyond_the_percentile():
    assert tail([float(i) for i in range(100, 0, -1)], 0.9) == 90.0  # 91..100 lie beyond
    assert tail([float(i) for i in range(1, 31)], 0.9) is None  # only 3 lie beyond


# ---- the event-log reducer -----------------------------------------------


def _task(stage: int, launch: int, finish: int, run_ms: int, *, failed=False, shuffle=0,
          spill=0) -> str:
    return json.dumps({
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed,
                      "Killed": False},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1, "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": 0},
        },
    })


def _job(job: int, stages: list[int], group: str | None) -> str:
    props = {"spark.jobGroup.id": group} if group else {}
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
                       "Properties": props})


CANNED_LOG = [
    json.dumps({"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}),
    _job(0, [0, 1], "op0"),
    _task(0, 100, 110, 8, shuffle=1000),
    _task(0, 100, 130, 25, shuffle=1000),
    _task(1, 140, 150, 9, spill=50),
    _job(1, [1, 2], "op1"),  # stage 1 reused (skipped): stays with op0
    _task(2, 200, 210, 10),
    _task(2, 200, 210, 10, failed=True),
    _job(2, [3], None),
    _task(3, 300, 305, 5),
]


def test_event_log_reducer_groups_tasks_by_operation():
    out = reduce_event_log(CANNED_LOG)
    assert set(out) == {"op0", "op1", ""}
    op0 = out["op0"]
    assert (op0.tasks, op0.failed_tasks, op0.run_ms) == (3, 0, 42)
    assert op0.cpu_ms == pytest.approx(42.0)
    assert (op0.shuffle_read, op0.shuffle_write, op0.spill) == (2000, 2000, 50)
    assert op0.durations == [10, 30, 10]
    assert op0.skew == pytest.approx(3.0)  # 30 ms longest over a 10 ms median
    assert (out["op1"].tasks, out["op1"].failed_tasks) == (2, 1)
    assert out[""].tasks == 1


# ---- the upsert expectation ----------------------------------------------

T0 = dt.datetime(2024, 1, 1, 12, 0)


def _story(i: int, score: int, **extra) -> dict:
    return {"id": i, "title": f"story {i}", "url": None, "domain": None, "author": "a",
            "score": score, "descendants": 0, "posted_at": T0,
            "posted_week": T0.date(), **extra}


def test_upsert_expectation_replaces_batch_keys_and_keeps_the_rest(tmp_path):
    from etl_for_dumdums_spark.schema import RAW_SCHEMAS

    schema = pipeline.arrow_schema(RAW_SCHEMAS["hacker_news.raw_stories"])
    (tmp_path / "initial").mkdir()
    (tmp_path / "day1").mkdir()
    initial = [_story(1, 10), _story(2, 20), _story(2, 21), _story(3, 30)]  # key 2 repeats
    pq.write_table(pa.Table.from_pylist(initial, schema=schema),
                   tmp_path / "initial" / "hn_stories.parquet")
    batch = [_story(2, 99, batch_day_1=1), _story(4, 40, batch_day_1=1)]
    pq.write_table(
        pa.Table.from_pylist(batch, schema=schema.append(pa.field("batch_day_1", pa.int64()))),
        tmp_path / "day1" / "hn_stories.parquet")

    b = SimpleNamespace(data_dir=tmp_path, last_pass=1)
    got = sorted(pipeline._expected(b, "hn_stories").to_pylist(), key=lambda r: r["id"])
    assert [(r["id"], r["score"], r["batch_day_1"]) for r in got] == [
        (1, 10, None), (2, 99, 1), (3, 30, None), (4, 40, 1)]

    b.last_pass = 0  # before the first day only the full refresh has landed
    assert sorted(r["score"] for r in pipeline._expected(b, "hn_stories").to_pylist()) == [
        10, 20, 21, 30]


def test_score_rows_follows_score_sentiment_rules():
    from etl_for_dumdums_spark.operators.enrich import stub_scorer

    text = "this is long enough to score"
    short, scored = pipeline.score_rows([{"text": "  tiny  "}, {"text": text}])
    assert (short["sentiment_score"], short["sentiment_label"]) == (0.0, "NEUTRAL")
    assert scored["sentiment_score"] == stub_scorer([text])[0]


# ---- the metric list stays in step with BENCHMARK.json -------------------


def test_benchmark_json_names_every_printed_metric():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_metrics()
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
