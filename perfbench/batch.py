"""``batch_mix``: 14 registry queries over seeded tables, each run to a
noop sink, in a seed-permuted order.

A run: create the session; one warm-up pass that also collects every
result and checks its frame hash (``tools/compare_oracle.py``'s) against
the query's DuckDB oracle; set up (load the tables, return a first result)
``SETUP_REPS`` times; then timed passes until ``seconds`` have elapsed (at
least one). ``latency`` is per-query wall time (plan build + execution);
``items_per_s`` is queries per second of pass time.
"""

from __future__ import annotations

import gc
import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from statistics import median

import numpy as np

from spark_streaming_twitch_analytics_spark.tables import TABLE_NAMES
from tools.compare_oracle import frame_hash

from . import datagen
from .harness import ROOT, SETUP_REPS, new_session

QUERIES = (
    # the reference's batch semantics
    "flagship_wordcount",
    "update_table_merge",
    "threshold_decode",
    "training_prep",
    # shuffle and join
    "q1_pricing_summary",
    "q9_product_profit",
    "q18_large_orders",
    "q21_waiting_suppliers",
    # plan-size and job-count heavy
    "events_mad_outliers",
    # build-time-action heavy
    "dedup_minhash_recall",
    "retrieval_bitext_margin",
    # Python-boundary heavy
    "ann_ivf_recall",
    "text_char_entropy",
    # sum-of-block-squares pair generation
    "dedup_embedding_cosine",
)
SF = 0.01
WARM_THREADS = 2


def query_order(seed: int) -> list[str]:
    rng = np.random.default_rng([seed, 14])
    return [QUERIES[i] for i in rng.permutation(len(QUERIES))]


def oracle_hashes(data_dir: str, names) -> dict[str, list]:
    """``[sorted columns, frame hash, rows]`` of each query's registry
    DuckDB oracle over the tables in ``data_dir``."""
    import duckdb

    from spark_streaming_twitch_analytics_spark import registry

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    out = {}
    for q in names:
        res = con.execute(registry.get(q).sql)
        cols = [d[0] for d in res.description]
        out[q] = [sorted(cols), *frame_hash(cols, res.fetchall())]
    con.close()
    return out


def _install_layer_wrappers(spans):
    """Time ``tables.load_table`` and ``cache.eager_persist`` wherever the
    package's modules bound those names (``from .tables import
    load_table``). Returns an undo callable."""
    from spark_streaming_twitch_analytics_spark import cache, tables

    originals = {"load_table": tables.load_table, "eager_persist": cache.eager_persist}
    layer = {"load_table": "tables", "eager_persist": "cache"}

    def wrap(name, fn):
        def timed(*a, **kw):
            spans.add(f"{layer[name]}.{name}_calls")
            with spans.span(f"{layer[name]}.{name}"):
                return fn(*a, **kw)

        return timed

    patched = []
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("spark_streaming_twitch_analytics_spark"):
            continue
        for name, fn in originals.items():
            if getattr(mod, name, None) is fn:
                setattr(mod, name, wrap(name, fn))
                patched.append((mod, name, fn))

    def undo():
        for mod, name, fn in patched:
            setattr(mod, name, fn)

    return undo


def _catalyst_ms(df) -> dict[str, float]:
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def run(ctx) -> dict:
    from spark_streaming_twitch_analytics_spark import registry
    from spark_streaming_twitch_analytics_spark.cache import release_all
    from spark_streaming_twitch_analytics_spark.tables import load_table

    spans, seed = ctx.spans, ctx.seed
    data_dir = os.path.join(ctx.work, "data")
    ctx.log(f"input digest {datagen.write_tables(seed, SF, data_dir)}")
    order = query_order(seed)
    ctx.log("order " + ",".join(order))

    t_session = time.perf_counter()
    with spans.span("session"):
        spark = ctx.spark = new_session(ctx.work, ctx.trace)
    session_s = time.perf_counter() - t_session
    sc = spark.sparkContext

    # warm-up pass (JIT, codegen, Python workers): collect every result for
    # the oracle check, two queries at a time, while the DuckDB oracle runs
    # alongside; none of it is timed. The oracle has a process of its own,
    # so its memory never counts as the program's.
    oracle = subprocess.Popen(
        [sys.executable, "-m", "perfbench.batch", "oracle", data_dir, *order],
        cwd=ROOT, stdout=subprocess.PIPE, text=True,
    )

    def collect(q):
        df = registry.get(q).fn(spark, data_dir)
        return q, [sorted(df.columns), *frame_hash(df.columns, df.collect())]

    try:
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            got = dict(pool.map(collect, order))
        want = json.loads(oracle.stdout.read())
    finally:
        oracle.stdout.close()
        if oracle.wait() != 0:
            raise RuntimeError(f"DuckDB oracle exited with {oracle.returncode}")
    release_all()
    bad = [q for q in order if got[q] != want.get(q)]
    for q in bad:
        ctx.log(f"MISMATCH {q}: spark {got[q]} oracle {want.get(q)}")

    # set-up: load every table and return the first result
    starts = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        for t in TABLE_NAMES:
            load_table(spark, data_dir, t).schema
        registry.get("flagship_wordcount").fn(spark, data_dir).collect()
        starts.append(time.perf_counter() - t0)
        release_all()
    ctx.log(f"session {session_s:.2f} s, starts {[round(x, 2) for x in starts]}")
    # hand back the heap the two-thread warm-up grew, so the timed passes'
    # peak RSS is their own
    del got
    gc.collect()
    spark._jvm.System.gc()

    undo = _install_layer_wrappers(spans) if ctx.trace else (lambda: None)
    passes, per_query = [], []
    catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    try:
        w_start = time.time()
        t_start = time.perf_counter()
        p = 0
        while not passes or time.perf_counter() - t_start < ctx.seconds:
            p += 1
            t_pass = time.perf_counter()
            with spans.span("batch.pass"):
                for q in order:
                    t_q = time.perf_counter()
                    with spans.span(f"query.{q}"):
                        with spans.span("cache.release_all"):
                            release_all()
                        sc.setJobGroup(f"build:{p}:{q}", q)
                        with spans.span("registry.build"), spans.span(f"registry.build.{q}"):
                            df = registry.get(q).fn(spark, data_dir)
                        if ctx.trace:
                            spans.add("registry.build_jobs", len(sc.statusTracker().getJobIdsForGroup(f"build:{p}:{q}")))
                            with spans.span("catalyst"):
                                for k, v in _catalyst_ms(df).items():
                                    catalyst[k] += v
                        sc.setJobGroup(f"exec:{p}:{q}", q)
                        with spans.span("exec"), spans.span(f"exec.{q}"):
                            df.write.format("noop").mode("overwrite").save()
                        sc.setJobGroup(f"idle:{p}", "idle")
                    per_query.append(time.perf_counter() - t_q)
            passes.append(time.perf_counter() - t_pass)
            ctx.log(f"pass {passes[-1]:.2f}s")
        ctx.window = (w_start, time.time())
        release_all()
    finally:
        undo()
    if ctx.trace:
        for k, v in catalyst.items():
            spans.add(f"catalyst.{k}_ms", v)
    ctx.job_filter = lambda group, submit_ms: bool(group) and group.startswith("exec:")
    pass_s = median(passes)
    return {
        "attempted": len(order),
        "failed": len(bad),
        "setup_s": session_s + median(starts),
        "latency_p50_ms": median(per_query) * 1e3,
        "items_per_s": len(order) / pass_s,
        "passes": len(passes),
        "pass_s": pass_s,
        "queries": order,
    }


if __name__ == "__main__":
    if len(sys.argv) < 3 or sys.argv[1] != "oracle":
        raise SystemExit("usage: python3 -m perfbench.batch oracle DATA_DIR QUERY...")
    print(json.dumps(oracle_hashes(sys.argv[2], sys.argv[3:])))
