"""Shared benchmark plumbing: checkout paths, the Spark session, the RSS
sampler and in-memory spans."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "spark_streaming_twitch_analytics_spark"
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"
SETUP_REPS = 3


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def make_workdir(name: str) -> str:
    """A fresh scratch directory inside the checkout; every file the run
    writes (Spark local dirs, checkpoints, stores, inputs) lives here."""
    path = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def prepare_env(work: str) -> None:
    """Pin the process environment before the JVM starts: the package
    must be importable by Spark's Python workers (the IRC reader and every
    UDF run there), temp files stay inside the checkout, and no
    ``SPARK_GRAFT_*`` override from the caller's shell leaks in."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def new_session(work: str, event_log: bool):
    from spark_streaming_twitch_analytics_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": logdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm(timeout: float = 60.0) -> None:
    """End the JVM this process launched, and wait until it and every
    process under it (Spark's Python workers) have exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    pids = process_tree(proc.pid, set()) if proc is not None else []
    try:
        gw.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + timeout
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids[1:]):
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# RSS of this process tree (this process, the JVM, Spark's Python workers)
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def process_tree(root: int, exclude: set[int]) -> list[int]:
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


RSS_PERIOD_S = 0.25
RSS_RESCAN = 8


class RssSampler:
    """Samples the summed RSS of this process and its descendants (minus
    ``exclude``, e.g. the load generator) every ``RSS_PERIOD_S`` seconds;
    the process tree itself is re-read every ``RSS_RESCAN`` samples, so a
    sample costs a few small reads. ``peak_between`` reads the peak of
    the samples taken in a time window (``time.time()`` seconds)."""

    def __init__(self):
        self.exclude: set[int] = set()
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me, k, pids = os.getpid(), 0, []
        while not self._stop.is_set():
            if k % RSS_RESCAN == 0:
                pids = process_tree(me, self.exclude)
            k += 1
            self.samples.append((time.time(), sum(_rss_bytes(p) for p in pids)))
            self._stop.wait(RSS_PERIOD_S)

    def peak_between(self, t0: float, t1: float) -> int:
        return max((b for t, b in self.samples if t0 <= t <= t1), default=0)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


# ---------------------------------------------------------------------------
# Spans and counters (kept in memory, written out once at the end)
# ---------------------------------------------------------------------------


class Spans:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.records: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def total_s(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.records if r["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, r in enumerate(self.records):
                f.write(json.dumps({"id": i, **r}) + "\n")

