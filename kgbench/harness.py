"""Run context shared by the workloads: the Spark session, the seeded
inputs, the timed-pass loop, job tags for the traced run and the
correctness tally (``attempted`` / ``failed``)."""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

import eventlog
import inputs

MAX_CORES = 4
SETUP_REPS = 3


class Timer:
    s = 0.0


class Bench:
    def __init__(self, root: str, scratch: str, seed: int, seconds: float,
                 trace: bool):
        self.root = root
        self.scratch = scratch
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
        self.spark = None
        self.eventlog_dir: str | None = None
        self.attempted = 0
        self.failed = 0
        self.info: dict = {
            "nproc": len(os.sched_getaffinity(0)),
            "driver_mem": os.environ.get("NERPII_SPARK_DRIVER_MEM"),
        }

    # -- correctness -------------------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"kgbench: MISMATCH {what}", file=sys.stderr)
        return ok

    # -- inputs ------------------------------------------------------------

    def materialize(self, **kw) -> tuple[str, float]:
        """Write the seed's inputs ``SETUP_REPS`` times into fresh
        directories; checks the copies are byte-identical (same seed, same
        inputs) and returns (first copy's dir, median write seconds)."""
        walls, digests, dirs = [], [], []
        for k in range(SETUP_REPS):
            d = os.path.join(self.scratch, f"inputs-{k}")
            t0 = time.perf_counter()
            sizes = inputs.write_inputs(d, self.seed, **kw)
            walls.append(time.perf_counter() - t0)
            digests.append(_tree_digest(d))
            dirs.append(d)
        self.check(len(set(digests)) == 1, "seeded inputs differ between copies")
        for d in dirs[1:]:
            shutil.rmtree(d)
        self.info["inputs"] = sizes
        return dirs[0], statistics.median(walls)

    # -- session -----------------------------------------------------------

    def start_session(self, event_log: bool = False) -> float:
        """Start (or restart, in the same JVM) the session; returns its
        start-up seconds. ``event_log`` turns on the uncompressed event log
        that the traced run parses."""
        from nerpii_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.scratch, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.scratch}/tmp"
                f" -Dderby.system.home={self.scratch}/derby",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            self.eventlog_dir = os.path.join(self.scratch, "eventlog")
            os.makedirs(self.eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        os.makedirs(os.path.join(self.scratch, "tmp"), exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"kgbench-{self.seed}", cores=self.cores, extra_conf=conf
        )
        self.spark.range(1).count()
        dt = time.perf_counter() - t0
        self.info["spark"] = self.spark.version
        self.info["cores"] = self.cores
        return dt

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM the first session launched."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - fall back to a hard stop
                proc.kill()
                proc.wait(timeout=30)

    def restart_traced(self) -> float:
        """Second session of a traced run, with the event log on. It runs
        in the same JVM: the engine's module-level UDFs stay bound to the
        JVM that first used them."""
        self.stop_session()
        return self.start_session(event_log=True)

    def parse_event_log(self) -> dict:
        """Stop the traced session (flushing its log) and parse it."""
        self.stop_session()
        (path,) = glob.glob(os.path.join(self.eventlog_dir, "*"))
        return eventlog.parse_file(path)

    # -- timing ------------------------------------------------------------

    @contextmanager
    def timed_tag(self, name: str):
        """Time the body; in the traced session also tag its Spark jobs
        ``kgb:<name>``."""
        t = Timer()
        tag = eventlog.TAG_PREFIX + name
        sc = self.spark.sparkContext if self.eventlog_dir else None
        if sc is not None:
            sc.addJobTag(tag)
        t0 = time.perf_counter()
        try:
            yield t
        finally:
            t.s = time.perf_counter() - t0
            if sc is not None:
                sc.removeJobTag(tag)

    def passes(self, one_pass, check, min_passes: int = 1):
        """Run ``one_pass(i)`` until ``seconds`` have elapsed (at least
        ``min_passes`` times), timing each call, then ``check(i, result)``
        outside the timed region; returns (walls, tags)."""
        walls, tags = [], []
        t_end = time.perf_counter() + self.seconds
        i = 0
        while i < min_passes or time.perf_counter() < t_end:
            with self.timed_tag(f"pass:{i}") as t:
                result = one_pass(i)
            check(i, result)
            walls.append(t.s)
            tags.append(eventlog.TAG_PREFIX + f"pass:{i}")
            i += 1
        return walls, tags


def _tree_digest(d: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, fnames in sorted(os.walk(d)):
        dirnames.sort()
        for f in sorted(fnames):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()
