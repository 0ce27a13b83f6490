"""Metric catalogue (read from ``BENCHMARK.json``) and the result assembly
for one run.

Every run reports every metric of its mode: the end-to-end set with
``--trace 0``, the per-layer set with ``--trace 1``. A per-layer metric
of a layer the workload does not run reads 0.
"""

from __future__ import annotations

import json
import os

from . import eventlog, harness


def _catalogue() -> tuple[tuple, tuple]:
    """``(name, unit)`` of every end-to-end and per-layer metric, as
    ``BENCHMARK.json`` at the checkout root lists them."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple(
        tuple((m["name"], m["unit"]) for m in spec[key]) for key in ("end_to_end", "per_layer")
    )


END_TO_END, PER_LAYER = _catalogue()


def _runner(workload: str):
    if workload == "batch_mix":
        from . import batch

        return batch.run
    from . import chat

    return chat.run_live


def run_workload(ctx) -> dict:
    with harness.RssSampler() as rss:
        ctx.rss = rss
        r = _runner(ctx.workload)(ctx)
    r["peak_rss_mb"] = rss.peak_between(*ctx.window) / 2**20
    ctx.log("result " + ", ".join(f"{k}={r[k]:.4g}" for k, _ in END_TO_END))
    if ctx.trace:
        metrics = _layer_metrics(ctx, r)
    else:
        metrics = {k: {"value": float(r[k]), "unit": u} for k, u in END_TO_END}
    return {
        "correct": r["failed"] == 0,
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": metrics,
    }


def _layer_metrics(ctx, r: dict) -> dict:
    spans = ctx.spans
    # the event log is complete once the application ends
    ctx.spark.stop()
    ctx.spark = None
    ev = eventlog.summarize(os.path.join(ctx.work, "eventlog"), ctx.job_filter)
    vals = dict(spans.counts)
    if ctx.workload == "batch_mix":
        passes = r["passes"]
        scale = 1.0 / passes
        vals["registry.build_s"] = spans.total_s("registry.build") * scale
        vals["exec.wall_s"] = spans.total_s("exec") * scale
        for name in ("tables.load_table", "cache.eager_persist"):
            vals[f"{name}_s"] = spans.total_s(name) * scale
        for k in [k for k in vals if k.endswith("_calls") or k.startswith("catalyst.") or k == "registry.build_jobs"]:
            vals[k] *= scale
        for q in r["queries"]:
            vals[f"registry.build_s.{q}"] = spans.total_s(f"registry.build.{q}") * scale
            vals[f"exec.wall_s.{q}"] = spans.total_s(f"exec.{q}") * scale
        vals.update({k: v * scale for k, v in ev.items()})
    else:
        w0, w1 = ctx.window
        for name in ("kv_store.write", "kv_store.get_table", "kv_store.last_applied_epoch"):
            recs = [s for s in spans.records if s["name"] == name and w0 <= s["start"] <= w1]
            vals[f"{name}_s"] = sum(s["end"] - s["start"] for s in recs)
            vals[f"{name}_calls"] = len(recs)
        vals.update(ev)
        batches = max(vals.get("stream.batches", 0), 1)
        vals["spark.jobs_per_batch"] = ev["exec.jobs"] / batches
        vals["spark.stages_per_batch"] = ev["exec.stages"] / batches
    for k, _ in END_TO_END:
        vals[f"traced.{k}"] = r[k]
    spans.write(os.path.join(harness.ROOT, ".perfbench_out", f"spans-{ctx.workload}-{ctx.seed}.jsonl"))
    return {name: {"value": float(vals.get(name, 0)), "unit": unit} for name, unit in PER_LAYER}
