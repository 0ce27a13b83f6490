"""Tests of the benchmark's own logic (run: python3 -m pytest perfbench/tests -q)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import batch, chat, datagen, loadgen, metrics  # noqa: E402


# ---------------------------------------------------------------------------
# latency attribution from progress endOffsets
# ---------------------------------------------------------------------------


def _progress(batch_id, start, end, rows=None):
    return {
        "batchId": batch_id,
        "numInputRows": end - start if rows is None else rows,
        "sources": [{"startOffset": None if start == 0 else {"n": start}, "endOffset": {"n": end}}],
    }


def test_batch_ranges_skip_empty_triggers_and_parse_offsets():
    prog = [
        _progress(0, 0, 3),
        _progress(1, 3, 3, rows=0),
        _progress(2, 3, 7),
        {"batchId": 3, "numInputRows": 2, "sources": [{"startOffset": '{"n": 7}', "endOffset": '{"n": 9}'}]},
    ]
    assert chat.batch_ranges(prog) == [(0, 0, 3), (2, 3, 7), (3, 7, 9)]


def test_latency_is_last_write_of_the_holding_batch_minus_due_time():
    rate = 10.0
    due = loadgen.due_times(100.0, rate, 9)  # 100.0, 100.1, ... 100.8
    ranges = [(0, 0, 3), (2, 3, 7), (3, 7, 9)]
    write_end = {0: 101.0, 2: 102.0, 3: 103.0}
    lat = chat.attribute_latency(ranges, write_end, due, 2, 9)
    want = [101.0 - 100.2, 102.0 - 100.3, 102.0 - 100.4, 102.0 - 100.5, 102.0 - 100.6, 103.0 - 100.7, 103.0 - 100.8]
    assert np.allclose(lat, want)


def test_items_no_batch_holds_are_missing():
    due = loadgen.due_times(0.0, 1.0, 6)
    lat = chat.attribute_latency([(0, 0, 2)], {0: 5.0}, due, 0, 6)
    assert np.isnan(lat[2:]).all() and not np.isnan(lat[:2]).any()
    # a batch whose writes never returned holds nothing
    lat = chat.attribute_latency([(0, 0, 2), (1, 2, 6)], {0: 5.0}, due, 0, 6)
    assert np.isnan(lat[2:]).all()


def test_capacity_is_rows_over_trigger_time_of_the_measured_batches():
    def rec(batch_id, start, end, ms):
        return {**_progress(batch_id, start, end), "durationMs": {"triggerExecution": ms}}

    prog = [
        rec(0, 0, 5000, 9000),  # before the measured lines
        rec(1, 5000, 7000, 1000),  # straddles lo = 6000
        rec(2, 7000, 7000, 50),  # empty trigger
        rec(3, 7000, 8000, 1000),
        rec(4, 8000, 8100, 1000),  # takes the last line: left out
    ]
    assert chat.capacity(prog, 6000, 8100) == pytest.approx(3000 / 2.0)
    assert chat.capacity(prog, 8100, 8200) == 0.0


# ---------------------------------------------------------------------------
# the metric catalogue in BENCHMARK.json matches what the runs produce
# ---------------------------------------------------------------------------


def test_catalogue_names_the_queries_and_the_traced_end_to_end_metrics():
    names = {n for n, _ in metrics.PER_LAYER}
    for q in batch.QUERIES:
        assert {f"registry.build_s.{q}", f"exec.wall_s.{q}"} <= names
    per_query = {n for n in names if n.startswith(("registry.build_s.", "exec.wall_s."))}
    assert len(per_query) == 2 * len(batch.QUERIES)
    assert {f"traced.{n}" for n, _ in metrics.END_TO_END} <= names


# ---------------------------------------------------------------------------
# generator determinism
# ---------------------------------------------------------------------------


def test_generator_is_deterministic_per_seed():
    v1, v2, v3 = (loadgen.vocabulary(s, 2000) for s in (7, 7, 8))
    assert v1 == v2 and v1 != v3
    m1, m2, m3 = (loadgen.messages(s, v1, 500) for s in (7, 7, 8))
    assert m1 == m2 and m1 != m3
    assert loadgen.digest(m1) == loadgen.digest(m2) != loadgen.digest(m3)
    assert list(loadgen.users(7, 50)) == list(loadgen.users(7, 50))


def test_messages_are_zipf_and_sized():
    vocab = loadgen.vocabulary(3, 5000)
    msgs = loadgen.messages(3, vocab, 20000)
    lens = {len(m.split(" ")) for m in msgs}
    assert lens == set(range(loadgen.MIN_WORDS, loadgen.MAX_WORDS + 1))
    c = loadgen.word_counter(msgs)
    # rank 1 is drawn about 2**1.1 times as often as rank 2
    assert 1.6 < c[vocab[0]] / c[vocab[1]] < 2.8


def test_tables_and_query_order_are_deterministic(tmp_path):
    assert datagen.write_tables(5, 0.001, str(tmp_path / "ta")) == datagen.write_tables(5, 0.001, str(tmp_path / "tb"))
    assert batch.query_order(5) == batch.query_order(5) != batch.query_order(6)
    assert sorted(batch.query_order(5)) == sorted(batch.QUERIES)


# ---------------------------------------------------------------------------
# open-loop lateness accounting
# ---------------------------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.t = 1000.0

    def __call__(self):
        return self.t

    def sleep(self, s):
        self.t += s


def test_open_loop_releases_on_schedule_and_never_early():
    clk = FakeClock()
    sent = []
    t0, released = loadgen.run_schedule(sent.append, 50, 100.0, clock=clk, sleep=clk.sleep)
    assert sent == list(range(50))
    due = loadgen.due_times(t0, 100.0, 50)
    assert (released >= due - 1e-9).all()
    assert loadgen.lateness(due, released).max() < 1e-9


def test_a_stall_makes_later_messages_late_not_rescheduled():
    clk = FakeClock()

    def send(i):
        if i == 10:
            clk.t += 0.5  # the sender stalls for 50 intervals

    t0, released = loadgen.run_schedule(send, 100, 100.0, clock=clk, sleep=clk.sleep)
    late = loadgen.lateness(loadgen.due_times(t0, 100.0, 100), released)
    assert late[:11].max() < 1e-9
    # the stall starts at message 10's due time (t0 + 0.10) and ends at
    # t0 + 0.60: messages due meanwhile go out in one burst at its end
    assert late[11] == pytest.approx(0.49) and late[59] == pytest.approx(0.01)
    assert late[60:].max() < 1e-9


def test_schedule_stops_early():
    clk = FakeClock()
    sent = []
    _, released = loadgen.run_schedule(sent.append, 100, 100.0, stop=lambda: len(sent) >= 5, clock=clk, sleep=clk.sleep)
    assert len(sent) == 5 and np.count_nonzero(released) == 5


# ---------------------------------------------------------------------------
# vocabulary survives the program's own tokenizer, and the category oracle
# matches the program's scorer (needs Spark)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from spark_streaming_twitch_analytics_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_vocabulary_survives_countable_words_exactly_once(spark):
    from pyspark.sql import functions as F

    from spark_streaming_twitch_analytics_spark.constants import DEFAULT_LANG
    from spark_streaming_twitch_analytics_spark.functions.text import countable_words

    vocab = loadgen.vocabulary(11, 5000)
    df = spark.createDataFrame([(w,) for w in vocab], "text string")
    kept = df.select(F.size(countable_words(F.col("text"), DEFAULT_LANG)).alias("n"), "text")
    assert kept.where("n != 1").count() == 0
    msgs = loadgen.messages(11, vocab, 300)
    words = (
        spark.createDataFrame([(m,) for m in msgs], "text string")
        .select(F.explode(countable_words(F.col("text"), DEFAULT_LANG)).alias("w"))
        .groupBy("w").count().collect()
    )
    assert {r[0]: r[1] for r in words} == dict(loadgen.word_counter(msgs))


def test_category_oracle_matches_the_hash_scorer(spark):
    from pyspark.sql import functions as F

    msgs = loadgen.messages(12, loadgen.vocabulary(12, 500), 200)
    got = (
        spark.createDataFrame([(m,) for m in msgs], "text string")
        .select(F.explode(chat.scorer(F.col("text"))).alias("c"))
        .groupBy("c").count().collect()
    )
    assert {r[0]: r[1] for r in got} == chat.expected_categories(msgs)


# ---------------------------------------------------------------------------
# event-log sums are restricted to the accepted jobs
# ---------------------------------------------------------------------------


def test_eventlog_sums_only_accepted_jobs(tmp_path):
    import json

    from perfbench import eventlog

    def task(stage, cpu_ns, py_ms):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
                "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 4,
            },
            "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": py_ms}]},
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "exec:1:q"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 20, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "build:1:q"}},
        task(0, 2e9, 100), task(1, 1e9, 0), task(2, 7e9, 900),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = eventlog.summarize(str(tmp_path), lambda group, ms: group.startswith("exec:"))
    assert out["exec.jobs"] == 1 and out["exec.stages"] == 2 and out["exec.tasks"] == 2
    assert out["exec.task_cpu_s"] == pytest.approx(3.0) and out["exec.gc_s"] == pytest.approx(0.01)
    assert out["exec.shuffle_read_bytes"] == 6 and out["exec.shuffle_write_bytes"] == 6
    assert out["exec.spill_bytes"] == 8 and out["pyworker.run_s"] == pytest.approx(0.1)
