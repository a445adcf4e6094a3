"""Spark lifecycle, peak-RSS sampling, span tracing and Spark stage
metrics for the extraction benchmark. Nothing here runs at import."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time
import urllib.request
from contextlib import contextmanager


def work_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``work`` and size the driver heap to the machine, before the JVM
    starts (the session default heap is sized for a large host)."""
    for sub in ("tmp", "spark-local", "fixtures"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_FIXTURE_DIR"] = os.path.join(work, "fixtures")
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(8, int(mem_gb // 6)))}g"


class SparkRunner:
    """Owns the session and the JVM behind it. ``start`` reuses a live
    JVM; ``close`` stops the session, ends the JVM and waits for it."""

    def __init__(self, cores: int, work: str):
        self.cores = cores
        self.work = work
        self.spark = None

    def start(self, ui: bool = False):
        from mangaextractor_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": str(ui).lower(),
            "spark.ui.port": "0",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        self.spark = get_spark(app_name="perfbench", cores=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def warm_up(self) -> None:
        """A job with one Python task per core: spawns the workers."""
        n = self.cores
        self.spark.sparkContext.parallelize(range(n), n).map(_identity).count()

    def timed_setup(self, ui: bool = False) -> float:
        t0 = time.perf_counter()
        self.start(ui)
        self.warm_up()
        return time.perf_counter() - t0

    def full_gc(self) -> None:
        self.spark.sparkContext._jvm.java.lang.System.gc()

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _identity(x):
    return x


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- statistics ------------------------------------------------------------


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def repeat_for(seconds: float, rep) -> list[float]:
    """Closed loop: one client, the next job only after the previous one
    completes, until ``seconds`` have passed and at least two jobs ran
    (a median of one is no median). ``rep(i)`` runs job i and
    returns its own timed wall (untimed checks may surround it)."""
    walls: list[float] = []
    t_end = time.perf_counter() + seconds
    while len(walls) < 2 or time.perf_counter() < t_end:
        walls.append(rep(len(walls)))
    return walls


# --- peak memory: JVM heap after GC + non-heap (MXBeans), worker PSS (/proc) --


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
        # comm may contain spaces/parens: ppid is the 2nd field after the last ')'
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def worker_pss(root: int) -> dict[str, int]:
    """PSS bytes by command name, summed over every process below ``root``
    (not root itself: the benchmark process holds the corpus) that is not
    a JVM. PSS counts the pages that forked Python workers share once.
    JVMs are skipped, as is a JVM child that has not exec'd yet, since it
    still runs the java binary; their children are still walked."""
    kids = _children_map()
    out: dict[str, int] = {}
    stack = list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        try:
            if os.path.basename(os.readlink(f"/proc/{pid}/exe")) != "java":
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:")) * 1024
                out[comm] = out.get(comm, 0) + pss
        except (OSError, StopIteration):  # the process ended meanwhile
            continue
        stack.extend(kids.get(pid, []))
    return out


class PeakMemory:
    """Samples, on a thread while the block runs, the memory the program
    holds and keeps the largest total with its split:

    - ``jvm_heap``: driver heap in use after the latest GC, from the JVM's
      GC MXBeans over py4j. Heap in use between GCs, like the JVM's RSS,
      mostly shows how far the GC has let garbage grow.
    - ``jvm_non_heap``: metaspace, code cache and the like (MemoryMXBean).
    - worker_pss(root), by command name: the Python workers.
    """

    def __init__(self, spark=None, root: int | None = None, interval: float = 0.05):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory if spark else None
        self.mx = mf.getMemoryMXBean() if mf else None
        self.gcs = list(mf.getGarbageCollectorMXBeans()) if mf else []
        self.root = root or os.getpid()
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _jvm(self) -> dict[str, int]:
        infos = [i for i in (g.getLastGcInfo() for g in self.gcs) if i is not None]
        last = max(infos, key=lambda i: i.getEndTime(), default=None)
        heap = sum(u.getUsed() for u in last.getMemoryUsageAfterGc().values()) if last else 0
        return {"jvm_heap": heap, "jvm_non_heap": self.mx.getNonHeapMemoryUsage().getUsed()}

    def _sample(self) -> None:
        parts = worker_pss(self.root)
        if self.mx is not None:
            parts.update(self._jvm())
        if sum(parts.values()) > self.peak:
            self.peak, self.at_peak = sum(parts.values()), parts

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakMemory:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


# --- spans -----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent), written once at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **({"attrs": attrs} if attrs else {}),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def total(self, name: str) -> float:
        """Summed duration (s) of every span with this name."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


# --- Spark stage metrics over the REST API -------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def stage_metrics(spark, group: str) -> dict:
    """Task, IO, CPU and GC totals over the completed stages of the jobs
    in ``group``, and max/median task duration of its busiest stage."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + 15
    while True:  # the listener bus is asynchronous: wait for the group to settle
        jobs = [j for j in _get(f"{base}/jobs") if j.get("jobGroup") == group]
        if jobs and all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    ids = {sid for j in jobs for sid in j["stageIds"]}
    stages = [s for s in _get(f"{base}/stages") if s["stageId"] in ids and s["status"] == "COMPLETE"]
    out = {
        "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spark.input_bytes": sum(s["inputBytes"] for s in stages),
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "spark.task_skew": 0.0,
    }
    if stages:
        busy = max(stages, key=lambda s: s["executorRunTime"])
        tasks = _get(f"{base}/stages/{busy['stageId']}/{busy['attemptId']}/taskList?length=100000")
        durs = [t["duration"] for t in tasks if t.get("duration") is not None]
        if durs and statistics.median(durs) > 0:
            out["spark.task_skew"] = max(durs) / statistics.median(durs)
    return out
