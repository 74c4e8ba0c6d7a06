"""Measurement plumbing: spans, an RSS sampler and a Spark event-log reader.

Spans are recorded by the benchmark around its own calls into the package
(name, start, end, parent, run id), kept in memory and written out at the
end. Spark's own counters come from its event log, which a traced run turns
on at JVM launch; every stage carries the job description
"<workload>:<layer>" and the local property `perfbench.pass` of the pass
that submitted it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path

PASS_PROP = "perfbench.pass"
# pass numbers: -1 warm pass, 0.. timed passes, then the traced run's probes
COLD_PROBE_PASS = -2
PROBE_PASS = 1_000_000
_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Spans of one benchmark run. `layer` also tags Spark jobs when the
    run is traced, so event-log stages map back to the layer."""

    def __init__(self, workload: str, run_id: str, spark_tags: bool):
        self.workload, self.run_id, self.spark_tags = workload, run_id, spark_tags
        self.spans: list[dict] = []
        self.counts: dict[str, dict[int, float]] = {}
        self._stack: list[int] = []
        self.sc = None
        self.pass_no = -1

    def bind(self, spark, pass_no: int) -> None:
        self.sc, self.pass_no = spark.sparkContext, pass_no
        if self.spark_tags:
            self.sc.setLocalProperty(PASS_PROP, str(pass_no))

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "run_id": self.run_id, "pass": self.pass_no,
               "parent": self._stack[-1] if self._stack else None}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def layer(self, name: str):
        if self.spark_tags:
            self.sc.setJobDescription(f"{self.workload}:{name}")
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            if self.spark_tags:
                self.sc.setJobDescription(None)

    def count(self, name: str, value: float) -> None:
        """A counter taken at a layer boundary, kept per pass."""
        self.counts.setdefault(name, {})[self.pass_no] = value

    def durations(self, name: str) -> dict[int, float]:
        """Summed duration of spans called `name`, per pass."""
        out: dict[int, float] = {}
        for s in self.spans:
            if s["name"] == name:
                out[s["pass"]] = out.get(s["pass"], 0.0) + s["end"] - s["start"]
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [os.getpid() if pid is None else pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", "rb") as f:
            return f.read().startswith(b"python")
    except OSError:
        return False


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and its Python
    workers), and of the Python workers alone, sampled every `period` s
    inside each `window`; one peak per window is kept. The only thread the
    benchmark adds."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peaks: list[int] = []
        self.worker_peaks: list[int] = []
        self._peak = self._worker_peak = 0
        self._lock = threading.Lock()
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        total = workers = 0
        for pid in descendants():
            r = _rss(pid)
            total += r
            if _is_python(pid):
                workers += r
        with self._lock:
            self._peak = max(self._peak, total)
            self._worker_peak = max(self._worker_peak, workers)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(self.period) and not self._stop.is_set():
                self._sample()
                self._stop.wait(self.period)

    @contextmanager
    def window(self):
        with self._lock:
            self._peak = self._worker_peak = 0
        self._sample()
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self._sample()
            with self._lock:
                self.peaks.append(self._peak)
                self.worker_peaks.append(self._worker_peak)

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=10)


@contextmanager
def event_log_detached(spark):
    """Run the body with Spark's event logger detached from the listener
    bus, so a traced JVM can also time untraced passes (Spark has no public
    switch; these are its own internal calls, reached through py4j)."""
    sc = spark.sparkContext._jsc.sc()
    logger, bus = sc.eventLogger().get(), sc.listenerBus()
    bus.removeListener(logger)
    try:
        yield
    finally:
        bus.addToEventLogQueue(logger)


def read_event_log(log_dir: Path) -> list[dict]:
    """One record per completed stage: description, pass, tasks and the
    summed counters the per-layer metrics need."""
    stage_props: dict[tuple[int, int], dict] = {}
    stages = []
    for f in sorted(log_dir.iterdir()):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerStageSubmitted":
                    si = e["Stage Info"]
                    stage_props[(si["Stage ID"], si["Stage Attempt ID"])] = e.get("Properties") or {}
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    props = stage_props.get((si["Stage ID"], si["Stage Attempt ID"]), {})
                    acc: dict[str, float] = {}
                    for a in si.get("Accumulables", []):
                        try:
                            v = float(a.get("Value", 0))
                        except (TypeError, ValueError):
                            continue
                        acc[a["Name"]] = acc.get(a["Name"], 0.0) + v
                    stages.append({
                        "description": props.get("spark.job.description") or "",
                        "pass": int(props.get(PASS_PROP, -1)),
                        "tasks": int(si["Number of Tasks"]),
                        "run_s": acc.get("internal.metrics.executorRunTime", 0) / 1e3,
                        "cpu_s": acc.get("internal.metrics.executorCpuTime", 0) / 1e9,
                        "gc_s": acc.get("internal.metrics.jvmGCTime", 0) / 1e3,
                        "shuffle_write_b": acc.get("internal.metrics.shuffle.write.bytesWritten", 0),
                        "spill_b": acc.get("internal.metrics.memoryBytesSpilled", 0)
                        + acc.get("internal.metrics.diskBytesSpilled", 0),
                        "py_in_b": acc.get("data sent to Python workers", 0),
                        "py_out_b": acc.get("data returned from Python workers", 0),
                        "py_run_s": acc.get("time to run Python workers", 0) / 1e3,
                        "python": "time to run Python workers" in acc,
                    })
    return stages
