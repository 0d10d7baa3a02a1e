"""Spans, Spark job-group statistics and a resident-memory sampler.

The benchmark times layers from outside the library: each span sets its
own Spark job group around the calls it wraps, and after the run the
group's jobs are read back from Spark's status store (stage metrics) and
SQL status store (executed-plan metrics). Spans stay in memory until
``Tracer.dump`` writes them as JSON.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

# executed-plan metrics of the Python-boundary nodes (MapInPandas /
# MapInArrow / ArrowEvalPython), by their names in Spark's SQL status store
PY_METRICS = {
    "data sent to Python workers": "arrow_bytes_sent",
    "data returned from Python workers": "arrow_bytes_recv",
    "time to run Python workers": "python_s",
}
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric value: ``"total (min, med, max ...)
    \\n3.0 MiB (...)"`` -> bytes, ``"6.3 s (...)"`` -> seconds,
    ``"200,000"`` -> 200000."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def _union_seconds(intervals, lo, hi) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Spans with parent links and request ids, each run under its own
    Spark job group."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, request_id: int | None = None):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "request_id": request_id,
               "group": f"perfbench-{len(self.spans)}-{name}"}
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name, False)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"], False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def self_seconds(self) -> dict[int, float]:
        """Span duration minus the part its child spans cover."""
        out = {}
        for s in self.spans:
            kids = [(c["start"], c["end"]) for c in self.spans
                    if c["parent"] == s["id"]]
            out[s["id"]] = (s["end"] - s["start"]
                            - _union_seconds(kids, s["start"], s["end"]))
        return out

    def collect_spark_stats(self) -> None:
        """Attach each span's job-group statistics (stage metrics and
        Python-node plan metrics). Call once, after the traced work."""
        if not self.spans:
            return
        from py4j.protocol import Py4JError

        jsc = self.spark.sparkContext._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(30_000)
        except Py4JError:  # the bus drain is best effort; the store lags ms
            time.sleep(1.0)
        store = jsc.statusStore()
        by_group: dict[str, list] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            g = jd.jobGroup()
            if g.isDefined():
                by_group.setdefault(g.get(), []).append(jd)
        job_exec, exec_metrics = self._sql_python_metrics()
        for s in self.spans:
            st = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0,
                  "executor_cpu_s": 0.0, "shuffle_write_bytes": 0,
                  "spill_bytes": 0, "gc_s": 0.0, "input_bytes": 0,
                  "output_bytes": 0, "arrow_bytes_sent": 0.0,
                  "arrow_bytes_recv": 0.0, "python_s": 0.0}
            intervals = []
            execs = set()
            for jd in by_group.get(s["group"], []):
                st["jobs"] += 1
                execs.update(job_exec.get(jd.jobId(), ()))
                ids = jd.stageIds()
                for k in range(ids.size()):
                    try:
                        sd = store.lastStageAttempt(ids.apply(k))
                    except Py4JError:  # stage evicted or never submitted
                        continue
                    if str(sd.status()) != "COMPLETE":
                        continue
                    st["tasks"] += sd.numCompleteTasks()
                    st["executor_run_s"] += sd.executorRunTime() / 1e3
                    st["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    st["gc_s"] += sd.jvmGcTime() / 1e3
                    st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    st["spill_bytes"] += (sd.memoryBytesSpilled()
                                          + sd.diskBytesSpilled())
                    st["input_bytes"] += sd.inputBytes()
                    st["output_bytes"] += sd.outputBytes()
                    if (sd.submissionTime().isDefined()
                            and sd.completionTime().isDefined()):
                        intervals.append(
                            (sd.submissionTime().get().getTime() / 1e3,
                             sd.completionTime().get().getTime() / 1e3))
            for ex in execs:
                for key, v in exec_metrics[ex].items():
                    st[key] += v
            st["stage_s"] = _union_seconds(intervals, s["start"], s["end"])
            s["spark"] = st
        # driver time: a span's wall minus the union of its own and its
        # descendants' stage intervals is the driver-serial remainder
        for s in self.spans:
            s["spark"]["driver_s"] = max(
                s["end"] - s["start"] - self._stage_union(s), 0.0)

    def _stage_union(self, s) -> float:
        total = s["spark"]["stage_s"]
        for c in self.spans:
            if c["parent"] == s["id"]:
                total += self._stage_union(c)
        return min(total, s["end"] - s["start"])

    def _sql_python_metrics(self) -> tuple[dict, dict]:
        """(job id -> SQL execution ids running it, execution id ->
        totals of its Python-boundary plan metrics)."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        job_exec: dict[int, set] = {}
        exec_metrics: dict[int, dict] = {}
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            ms = e.metrics()
            wanted = {}
            for k in range(ms.size()):
                m = ms.apply(k)
                if m.name() in PY_METRICS:
                    wanted[m.accumulatorId()] = PY_METRICS[m.name()]
            if not wanted:
                continue
            values = sql.executionMetrics(e.executionId())
            rec = dict.fromkeys(PY_METRICS.values(), 0.0)
            for acc, key in wanted.items():
                if values.contains(acc):
                    rec[key] += parse_metric(values.apply(acc))
            exec_metrics[e.executionId()] = rec
            jobs = e.jobs().keySet().iterator()
            while jobs.hasNext():
                job_exec.setdefault(jobs.next(), set()).add(e.executionId())
        return job_exec, exec_metrics

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_seconds()
        spans = [{**s, "self_s": selfs[s["id"]]} for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1, default=str)


def process_tree(pid_root: int) -> list[int]:
    """pid_root and every live descendant, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = [pid_root], {pid_root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        tree.extend(frontier)
    return tree


def _rss_bytes(pid: int) -> int:
    """Proportional resident size (PSS): resident pages, each shared page
    divided among the processes sharing it, so the Python workers forked
    from one daemon do not count the daemon's pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def gc_seconds(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(gc.getCollectionTime()
               for gc in mf.getGarbageCollectorMXBeans()) / 1e3


def live_heap(spark) -> tuple[int, int]:
    """(used, committed) heap bytes of the driver JVM right after a full
    collection, so that used is the heap's live data."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage()
    return heap.getUsed(), heap.getCommitted()


class RssSampler:
    """Peak memory of a process tree, the driver JVM and the Python workers
    it forks: their summed resident size (PSS) sampled from /proc, with the
    JVM heap counted by its live data rather than by its resident size.

    The benchmark commits and pre-touches the whole heap at start, so the
    heap's resident size is a constant that hides the program's use of it.
    ``peak_mb`` swaps it for the heap's live data at the end of the sampled
    span: retained growth (caches, leaks) shows; transient allocation does
    not, and the heap's size bounds it."""

    def __init__(self, spark, root_pid: int, interval: float = 0.1):
        self.spark = spark
        self.root_pid = root_pid
        self.interval = interval
        self.peak = self.peak_jvm = self.peak_workers = 0
        self.heap_live = self.heap_committed = 0
        self.gc_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            tree = process_tree(self.root_pid)
            jvm = _rss_bytes(self.root_pid)
            total = jvm + sum(_rss_bytes(p) for p in tree[1:])
            self.peak = max(self.peak, total)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_workers = max(self.peak_workers, total - jvm)
            self._stop.wait(self.interval)

    def start(self):
        self.gc_s = -gc_seconds(self.spark)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def peak_mb(self) -> float:
        """The peak in MiB, the heap counted by its live data; call once,
        after ``stop``."""
        self.gc_s += gc_seconds(self.spark)
        self.heap_live, self.heap_committed = live_heap(self.spark)
        return (self.peak - self.heap_committed + self.heap_live) / 2**20
