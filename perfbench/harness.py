"""Shared machinery: Spark sessions, the closed-loop client, failure
accounting, peak-RSS sampling and percentiles."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time


def nearest_rank(values: list[float], q: float) -> float:
    """q-quantile by nearest rank: always an observed sample, so a
    percentile inside one request class never interpolates towards
    another class."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, read from ``/proc``."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


class RssMonitor:
    """Peak resident memory of this process and all its descendants
    (driver Python, the JVM, Spark's Python daemon and workers), sampled
    from ``/proc`` on a background thread.  Each process counts its PSS,
    so pages that forked Python workers share with their daemon count
    once instead of once per worker."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def sample(self) -> int:
        me = os.getpid()
        total = sum(self._pss_kb(pid) for pid in [me] + descendants(me))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssMonitor":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_kb / 1024.0


def start_session(work: str, event_log_dir: str | None = None):
    """A SparkSession through the program's own factory. With
    ``event_log_dir`` the session writes a plain-JSON, non-rolling
    event log there (the traced run)."""
    from py_sema_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -Xms = -Xmx = SPARK_DRIVER_MEM: the heap never resizes, so
        # peak memory does not depend on when the JVM decides to grow
        # it.  No perf-data file: the JVM would write it to /tmp,
        # outside the checkout.
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:-UsePerfData "
            f"-Dderby.system.home={os.path.join(work, 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Client:
    """The closed-loop client: one operation at a time, each in its
    own Spark job group so failed tasks can be attributed to it.

    An operation fails if it raises, fails its output check, or any
    task of its jobs failed."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.check_failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self._n = 0

    @staticmethod
    def _failed_tasks(sc, groups: list[str]) -> int:
        st = sc.statusTracker()
        n = 0
        for group in groups:
            for jid in st.getJobIdsForGroup(group):
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    n += si.numFailedTasks if si else 0
        return n

    def op(self, spark, kind: str, fn, check=None):
        """Run ``fn()`` timed, then ``check(result)`` untimed; returns
        the result (None when it raised)."""
        self._n += 1
        group = f"op{self._n}.{kind}"
        sc = spark.sparkContext
        self.attempted += 1
        ok, result = True, None
        first_span = len(self.tracer.spans)
        sc.setJobGroup(group, kind)
        try:
            with self.tracer.span(f"op.{kind}", group=group):
                t0 = time.perf_counter()
                result = fn()
                dt = time.perf_counter() - t0
            self.samples.setdefault(kind, []).append(dt * 1000.0)
        except Exception as exc:  # the client must keep going
            import traceback

            traceback.print_exc()
            self.check_failures.append(f"{kind}: raised {exc!r}"[:300])
            ok = False
        if ok and check is not None:
            sc.setJobGroup(f"check.{group}", "output check")
            with self.tracer.paused():
                msg = check(result)
            if msg:
                self.check_failures.append(f"{kind}: {msg}")
                ok = False
        # traced spans nested in the op run their jobs in their own groups
        groups = [group] + [s["group"] for s in self.tracer.spans[first_span:]]
        if self._failed_tasks(sc, groups):
            self.check_failures.append(f"{kind}: failed Spark tasks")
            ok = False
        sc.setJobGroup("bench", "benchmark")
        if not ok:
            self.failed += 1
        return result

    def all_ms(self) -> list[float]:
        return [v for vs in self.samples.values() for v in vs]

