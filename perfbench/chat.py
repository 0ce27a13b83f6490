"""``chat_live``: the CLI's dataflow (``run_dual_branch_query`` with the
hash scorer, writing into ``KVTableStore`` on a ``TRIGGER`` processingTime
trigger) fed by ``IRCSocketDataSource`` from the loopback IRC server
(``loadgen serve``: one process, one connection, an open loop at
``loadgen.LIVE_RATE`` messages/s).

A message's latency runs from its due send time to the return of the last
``KVTableStore.write`` of the micro-batch that holds it; batch membership
comes from each progress record's ``endOffset``.
"""

from __future__ import annotations

import hashlib
import json
import os
import queue
import subprocess
import sys
import threading
import time
from statistics import median

import numpy as np

from . import loadgen
from .harness import ROOT, SETUP_REPS, new_session

# The trigger of the README's CLI example. With the 1 s minimum a warm
# micro-batch (1.0-1.6 s on a 4-core host) outlasts the interval, so a
# slow batch makes the next one bigger and p50 latency follows the host's
# speed about 1.5-fold (ten runs spread 0.21, quartiles over median).
# With 2 s every batch starts on its trigger: p50 is ~1 s + one batch.
TRIGGER = "2 seconds"
# The Spark driver's per-batch work (planning, job scheduling, sink writes)
# keeps getting faster for ~40 micro-batches as the JIT compiles it; a
# window opened 10 s into the stream spread by +-20% between runs. The
# measured stream therefore runs WARM_S seconds before its window opens
# (running other streams beside it warmed no faster: they share the
# Spark driver).
WARM_S = 18.0
WORD_TABLE, CAT_TABLE = "bench_wordcount", "bench_categoryCount"
DRAIN_TIMEOUT_S = 60.0


def timed_store_class():
    from spark_streaming_twitch_analytics_spark.sources.kv_store import KVTableStore

    class TimedStore(KVTableStore):
        """``KVTableStore`` that records when each epoch's writes return
        and, when tracing, times every call into the store."""

        def __init__(self, spark, root, spans):
            super().__init__(spark, root)
            self.spans = spans
            self.write_end: dict[int, float] = {}

        def write(self, df, table, mode="overwrite", ttl=None, epoch=None, lineage=None):
            self.spans.add("kv_store.write_calls")
            with self.spans.span("kv_store.write"):
                super().write(df, table, mode=mode, ttl=ttl, epoch=epoch, lineage=lineage)
            if epoch is not None:
                self.write_end[int(epoch)] = time.time()

        def get_table(self, table, schema):
            self.spans.add("kv_store.get_table_calls")
            with self.spans.span("kv_store.get_table"):
                return super().get_table(table, schema)

        def last_applied_epoch(self, table, lineage=None):
            self.spans.add("kv_store.last_applied_epoch_calls")
            with self.spans.span("kv_store.last_applied_epoch"):
                return super().last_applied_epoch(table, lineage)

    return TimedStore


def scorer(text_col):
    from spark_streaming_twitch_analytics_spark.functions.scoring import (
        decode_categories,
        hash_scores,
    )

    return decode_categories(hash_scores(text_col))


def expected_categories(texts) -> dict[str, int]:
    """Independent oracle of the hash scorer: score ``i`` is hex digit
    ``i`` of ``md5(text) || md5('s' || text)`` over 15."""
    from spark_streaming_twitch_analytics_spark.constants import (
        ENCODER_CLASSES,
        SCORE_THRESHOLD,
    )

    out: dict[str, int] = {}
    for t in texts:
        h = hashlib.md5(t.encode()).hexdigest() + hashlib.md5(("s" + t).encode()).hexdigest()
        for i, label in enumerate(ENCODER_CLASSES):
            if int(h[i], 16) / 15.0 > SCORE_THRESHOLD:
                out[label] = out.get(label, 0) + 1
    return out


def _offset(o) -> int:
    """Line count at an IRC reader offset (``{"n": N}``); none is 0."""
    if isinstance(o, str):
        o = None if o in ("", "None", "null") else json.loads(o)
    return 0 if o is None else int(o["n"])


def batch_ranges(progress: list[dict]) -> list[tuple[int, int, int]]:
    """``(batchId, start, end)`` item ranges of every micro-batch that read
    input, from the progress records' source offsets."""
    out = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        src = p["sources"][0]
        out.append((int(p["batchId"]), _offset(src.get("startOffset")), _offset(src.get("endOffset"))))
    return out


def attribute_latency(ranges, write_end: dict[int, float], due: np.ndarray, lo: int, hi: int) -> np.ndarray:
    """Per-item latency for items ``lo..hi-1``: the end of the last store
    write of the batch whose offset range holds the item, minus the item's
    due time. Items no batch holds come back as NaN."""
    lat = np.full(hi - lo, np.nan)
    for b, s, e in ranges:
        a, z = max(s, lo), min(e, hi)
        if a < z and b in write_end:
            lat[a - lo : z - lo] = write_end[b] - due[a:z]
    return lat


def check_tables(store, texts) -> tuple[int, int]:
    """Number of keys whose stored count differs from the generator's
    ``Counter`` (words) or the scorer oracle (categories), and the number
    of stored words."""
    from pyspark.sql import types as T

    from spark_streaming_twitch_analytics_spark.streaming.wordcount import COUNT_SCHEMA

    cat_schema = T.StructType(
        [T.StructField("category", T.StringType()), T.StructField("cnt", T.LongType())]
    )
    words = {r[0]: r[1] for r in store.get_table(WORD_TABLE, COUNT_SCHEMA).collect()}
    cats = {r[0]: r[1] for r in store.get_table(CAT_TABLE, cat_schema).collect()}
    want_w = loadgen.word_counter(texts)
    want_c = expected_categories(texts)
    bad = sum(words.get(k) != v for k, v in want_w.items()) + len(set(words) - set(want_w))
    bad += sum(cats.get(k) != v for k, v in want_c.items()) + len(set(cats) - set(want_c))
    return bad, len(words)


def _start_query(spark, raw, store, work: str, tag: str):
    from spark_streaming_twitch_analytics_spark.streaming.wordcount import run_dual_branch_query

    return run_dual_branch_query(
        raw,
        store,
        scorer,
        checkpoint_dir=os.path.join(work, f"ckpt_{tag}"),
        word_table=WORD_TABLE,
        cat_table=CAT_TABLE,
        batch_interval=TRIGGER,
    )


def _wait(pred, timeout: float, period: float = 0.02) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(period)
    return pred()


def _stop_query(q) -> None:
    _wait(lambda: not q.status["isTriggerActive"], 30)
    q.stop()


def progress(q) -> list[dict]:
    """The query's retained progress records as plain JSON dicts."""
    return [json.loads(p.json) for p in q.recentProgress]


def capacity(progress: list[dict], lo: int, hi: int) -> float:
    """Lines per second of trigger time: sum of ``numInputRows`` over sum
    of ``durationMs.triggerExecution`` of the micro-batches that hold
    lines ``lo..hi-1``, except the one that takes line ``hi - 1``. That
    last batch holds whatever the schedule's end left over, from a few
    lines to a full batch, at the full per-batch cost."""
    ids = {b for b, s, e in batch_ranges(progress) if lo < e < hi}
    ps = [p for p in progress if p["batchId"] in ids]
    rows = sum(p["numInputRows"] for p in ps)
    ms = sum(p["durationMs"]["triggerExecution"] for p in ps)
    return rows / (ms / 1e3) if ms else 0.0


def _first_data_batch(q) -> bool:
    return any(p.get("numInputRows") for p in q.recentProgress)


def _stream_phases(progress, first_batch: int, spans) -> None:
    """Median per-trigger phases of the measured batches (progress
    ``durationMs``)."""
    keys = {
        "addBatch": "stream.add_batch_ms.p50",
        "triggerExecution": "stream.trigger_ms.p50",
        "latestOffset": "stream.latest_offset_ms.p50",
        "queryPlanning": "stream.query_planning_ms.p50",
        "walCommit": "stream.wal_commit_ms.p50",
        "commitOffsets": "stream.commit_offsets_ms.p50",
    }
    ps = [p for p in progress if p.get("numInputRows") and p["batchId"] >= first_batch]
    for k, name in keys.items():
        vals = [p["durationMs"].get(k, 0) for p in ps]
        spans.add(name, median(vals) if vals else 0)
    rows = [p["numInputRows"] for p in ps]
    spans.add("stream.rows_per_batch.p50", median(rows) if rows else 0)
    spans.add("stream.batches", len(ps))


def _trigger_spans(prog, spans) -> None:
    """Add each trigger as a span (progress ``timestamp`` is its start)."""
    from datetime import datetime

    for p in prog:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        spans.records.append(
            {
                "name": "stream.trigger",
                "start": start,
                "end": start + p["durationMs"].get("triggerExecution", 0) / 1e3,
                "parent": None,
                "run_id": spans.run_id,
                "batch_id": p["batchId"],
                "rows": p.get("numInputRows", 0),
            }
        )


# ---------------------------------------------------------------------------
# chat_live
# ---------------------------------------------------------------------------


class Generator:
    """The loopback IRC server process and its per-connection reports."""

    def __init__(self, seed: int, n: int):
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.loadgen", "serve", "--seed", str(seed), "--count", str(n)],
            cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.port = int(self.proc.stdout.readline().split()[1])
        self.reports: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            self.reports.put(json.loads(line))

    def stop_client(self, nick: str) -> None:
        self.proc.stdin.write(f"stop {nick}\n")
        self.proc.stdin.flush()

    def report(self, nick: str, sent: int, timeout: float) -> dict:
        """The report of ``nick``'s connection that got the whole schedule
        of ``sent`` messages (the IRC reader may open and drop a second,
        short-lived connection while the query starts)."""
        deadline = time.time() + timeout
        while True:
            r = self.reports.get(timeout=max(0.1, deadline - time.time()))
            if r["nick"] == nick and r["sent"] == sent:
                return r

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def _irc_stream(spark, port: int, nick: str):
    return (
        spark.readStream.format("irc_chat")
        .option("host", "127.0.0.1").option("port", str(port))
        .option("channel", loadgen.CHANNEL).option("nick", nick)
        .load()
    )


def run_live(ctx) -> dict:
    from spark_streaming_twitch_analytics_spark.sources import irc

    spans, seed, S = ctx.spans, ctx.seed, ctx.seconds
    # every connection gets the same deterministic schedule of n messages;
    # the measured stream's window is its last S seconds
    rate = loadgen.LIVE_RATE
    n = int(rate * (WARM_S + S))
    lo, hi = n - int(rate * S), n
    texts = loadgen.messages(seed, loadgen.vocabulary(seed, loadgen.LIVE_VOCAB), n)
    us = loadgen.users(seed, n)
    ctx.log(
        f"input digest {loadgen.digest(loadgen.wire_line(int(u), t) + chr(13) + chr(10) for u, t in zip(us, texts))}"
        f" ({n} messages, measured {lo}..{hi - 1})"
    )
    gen = Generator(seed, n)
    ctx.rss.exclude.add(gen.proc.pid)
    TimedStore = timed_store_class()
    q = None
    main = f"bench{SETUP_REPS - 1}"
    try:
        t_session = time.perf_counter()
        with spans.span("session"):
            spark = ctx.spark = new_session(ctx.work, ctx.trace)
            spark.dataSource.register(irc.IRCSocketDataSource)
        session_s = time.perf_counter() - t_session
        # set-up: each start runs until its stream's first micro-batch with
        # data commits; the last one is the measured stream
        starts = []
        for rep in range(SETUP_REPS):
            if q is not None:  # a set-up stream: its store is discarded
                gen.stop_client(f"bench{rep - 1}")
                q.stop()
            t0 = time.perf_counter()
            raw = _irc_stream(spark, gen.port, f"bench{rep}")
            store = TimedStore(spark, os.path.join(ctx.work, f"store{rep}"), spans)
            with spans.span("stream.start"):
                q = _start_query(spark, raw, store, ctx.work, f"live{rep}")
            if not _wait(lambda: _first_data_batch(q), 120):
                raise RuntimeError(f"no micro-batch within 120 s: {q.exception()}")
            starts.append(time.perf_counter() - t0)
        ctx.log(f"session {session_s:.2f} s, stream starts {[round(x, 2) for x in starts]}")
        sched = gen.report(main, n, n / rate + 60)
        ok = _wait(lambda: max([e for _, _, e in batch_ranges(progress(q))] or [0]) >= n, DRAIN_TIMEOUT_S)
        prog = progress(q)
        _stop_query(q)
        ranges = batch_ranges(prog)
        received = max([e for _, _, e in ranges] or [0])
        due = loadgen.due_times(sched["t0"], rate, n)
        lat = attribute_latency(ranges, store.write_end, due, lo, hi)
        missing = int(np.isnan(lat).sum())
        lat = lat[~np.isnan(lat)]
        batches = [(p["numInputRows"], p["durationMs"]["triggerExecution"]) for p in prog if p.get("numInputRows")]
        ctx.log(f"drained={ok}; (rows, trigger ms) {batches}")
        bad_keys, n_keys = check_tables(store, texts)
        failed = missing + min(bad_keys, hi - lo) + max(0, n - received)
        last_end = max([store.write_end[b] for b, s, e in ranges if e > lo and b in store.write_end] or [due[-1]])
        ctx.window = (due[lo], last_end)
        ctx.job_filter = lambda group, submit_ms: ctx.window[0] * 1e3 <= submit_ms <= ctx.window[1] * 1e3
        first_b = min([b for b, s, e in ranges if e > lo] or [0])
        if ctx.trace:
            _stream_phases(prog, first_b, spans)
            _trigger_spans(prog, spans)
            spans.add("irc.lines_received", received)
            spans.add("loadgen.sent", sched["sent"])
            spans.add("loadgen.late_p99_ms", sched["late_p99_ms"])
            spans.add("kv_store.rows", n_keys)
            spans.add("kv_store.bytes", _du(store.root))
        return {
            "attempted": hi - lo,
            "failed": min(failed, hi - lo),
            "setup_s": session_s + median(starts),
            "latency_p50_ms": float(np.median(lat)) * 1e3,
            "items_per_s": capacity(prog, lo, hi),
        }
    finally:
        if q is not None and q.isActive:
            q.stop()
        gen.close()


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


