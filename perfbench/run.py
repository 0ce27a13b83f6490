"""Repository benchmark entry point.

    python3 perfbench/run.py --workload {chat_live,batch_mix}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (see ``perfbench/README.md``). Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("chat_live", "batch_mix")


class Context:
    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark = None
        self.spans = harness.Spans(f"{args.workload}-{args.seed}-{os.getpid()}", self.trace)
        self.t_start = time.time()
        # set by the workload: the RSS sampler, and for the traced run's
        # event-log sums the measured window and which jobs belong to it
        self.rss = None
        self.window = None
        self.job_filter = None

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.time() - self.t_start:7.2f}s] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not harness.package_present():
        print(f"perfbench: package {harness.PACKAGE} not found under {harness.ROOT}", file=sys.stderr)
        return 2

    work = harness.make_workdir(args.workload)
    harness.prepare_env(work)
    ctx = Context(args, work)
    try:
        from perfbench import metrics

        result = metrics.run_workload(ctx)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
