"""Spark session, measurement guards and sampling for the benchmark.

* every session is ``local[<cpus this process may use>]`` with all
  scratch space inside the checkout's ``.perfbench`` directory;
* every timed action carries a distinct salt (Spark 4.1 serves repeated
  identical plans from its result cache) and runs in its own job group,
  which ``statusTracker`` must show ran tasks;
* a worker-import probe proves the Python workers load the tree under
  test, not some other copy on the machine;
* a sampler thread records the peak RSS (``VmHWM``) of the Spark
  Python workers from ``/proc``.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import pandas as pd


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


class GuardError(RuntimeError):
    """A measurement guard failed: the figures would be meaningless."""


def _probe_batches(batches):
    import helix_html2md_spark

    for b in batches:
        yield pd.DataFrame({"f": [helix_html2md_spark.__file__] * len(b)})


class Bench:
    """One benchmark process: its session, salts and job groups."""

    def __init__(self, root: str, work: str, cpus: int, event_log: bool):
        self.root = root
        self.work = work
        self.cpus = cpus
        self.event_log_dir = os.path.join(work, "eventlog") if event_log else None
        if self.event_log_dir:  # keep only this run's logs
            shutil.rmtree(self.event_log_dir, ignore_errors=True)
        self.spark = None
        self._salt = 0

    # ------------------------------------------------------------ session

    def conf(self) -> dict:
        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-Djava.io.tmpdir=" + os.path.join(self.work, "tmp")
            ),
        }
        if self.event_log_dir:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_log_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def start(self) -> float:
        """build_session; returns its wall seconds."""
        from helix_html2md_spark import session

        t0 = time.perf_counter()
        self.spark = session.build_session(
            "perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf=self.conf(),
        )
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        self.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the launcher exits when stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - make sure it ends
                proc.kill()
                proc.wait(timeout=30)

    # ------------------------------------------------------------- guards

    def salted(self, df, column: str = "doc_id"):
        """A filter no row matches, unique to this action."""
        from pyspark.sql import functions as F

        self._salt += 1
        return df.filter(F.col(column) != f"@perfbench-{os.getpid()}-{self._salt}")

    def action(self, group: str, fn):
        """Run ``fn`` in job group ``group``; require that it ran tasks."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        ran = 0
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                ran += stage.numCompletedTasks if stage else 0
        if ran == 0:
            raise GuardError(f"{group}: no Spark tasks ran")
        return result

    def probe_workers(self) -> None:
        rows = self.action(
            "probe",
            lambda: self.spark.range(1)
            .mapInPandas(_probe_batches, schema="f string")
            .collect(),
        )
        where = rows[0]["f"]
        pkg = os.path.join(self.root, "helix_html2md_spark")
        if not os.path.realpath(where).startswith(os.path.realpath(pkg) + os.sep):
            raise GuardError(f"workers import {where}, not the tree under test")


# ----------------------------------------------------------- RSS sampler


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    # the JVM's command line names pyspark-shell; workers run the daemon
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


class RssSampler:
    """Peak RSS (MB) of Spark Python workers below this process.

    Each worker's own high-water mark is read, so sparse sampling (a scan
    of ``/proc`` costs ~2 ms of CPU) misses no peak of a live worker."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> float:
        kids = _children_map()
        stack = list(kids.get(os.getpid(), []))
        peak = 0.0
        while stack:
            pid = stack.pop()
            stack.extend(kids.get(pid, []))
            if _is_python_worker(pid):
                peak = max(peak, _peak_rss_mb(pid))
        return peak

    def _run(self):
        while not self._done.wait(self.interval):
            self.peak_mb = max(self.peak_mb, self._sample())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._done.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, self._sample())
