"""Observation side of the benchmark: spans, memory, Spark event logs and
streaming progress. Nothing here changes what the program does; it only
watches the calls the benchmark makes into it.

- :class:`Tracer` records a span around each call into a layer (name,
  start, end, parent span, one trace id per run), keeps the spans in
  memory and writes them out when the run ends. When bound to a
  SparkContext it also tags every job the call starts with the span id
  (``setJobGroup``), so the event log can be read per operation.
- :class:`RssSampler` sums the resident memory of the benchmark process
  and all its descendants (the JVM and the Python workers it forks),
  counting pages the forked workers share once; it pauses while the
  benchmark checks results.
- :class:`EventLog` attaches Spark's event-log writer to a running
  SparkContext for one stretch of work, and :func:`exec_summary` sums
  the task metrics of that log over the jobs submitted inside given time
  windows.
- :class:`StreamProbe` is a ``StreamingQueryListener`` collecting
  micro-batch progress.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Spans of one run. Disabled, ``span`` only yields ``None``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None  # SparkContext whose jobs get tagged with span ids

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "span_id": f"{len(self.spans) + 1:06x}",
            "parent_id": parent["span_id"] if parent else None,
            "trace_id": self.trace_id,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(parent)

    def _tag(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(rec["span_id"], rec["name"])

    def named(self, name: str, within: dict | None = None) -> list[dict]:
        """Closed spans called ``name``, optionally only those inside
        the interval of span ``within``."""
        return [
            s
            for s in self.spans
            if s["name"] == name
            and "end" in s
            and (within is None or within["start"] <= s["start"] <= within["end"])
        ]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by that span's children."""
        children: dict[str, float] = {}
        for s in self.spans:
            if s["parent_id"] and "end" in s:
                children[s["parent_id"]] = children.get(s["parent_id"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" in s:
                own = s["end"] - s["start"] - children.get(s["span_id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans,
                       "self_s": self.self_times(), **extra}, f, indent=1)  # fmt: skip


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and its descendants. Python processes
    count their proportional set size, so pages the forked Python workers
    share with each other count once; the JVM, which shares nothing with
    them, counts its RSS (reading its PSS takes ~6 ms, its RSS ~20 us)."""
    total = 0
    for p in _descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            if comm == "java":
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            else:
                total += _pss_bytes(p)
        except OSError:
            continue
    return total


class RssSampler:
    """Peak of :func:`tree_memory_bytes` of this process, sampled on a
    thread. No sample is taken inside :meth:`paused`, where the benchmark
    does work of its own (result checks)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._idle = threading.Lock()  # held by the sampler while it samples, and while paused
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            with self._idle:
                self.peak = max(self.peak, tree_memory_bytes(pid))
            self._stop.wait(self.interval)

    @contextmanager
    def paused(self) -> Iterator[None]:
        with self._idle:  # waits for a sample in progress to finish
            yield

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- event log ------------------------------------------------------------

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


class EventLog:
    """Spark's own event-log writer (``EventLoggingListener``), attached to
    a running SparkContext only inside the ``with`` block, so the session
    stays the same before and after. The log is uncompressed, in one file
    under ``log_dir``; :func:`read_event_log` reads it after the block."""

    def __init__(self, sc, log_dir: str):
        self.sc, self.log_dir = sc, log_dir

    def __enter__(self) -> EventLog:
        os.makedirs(self.log_dir, exist_ok=True)
        jvm, jsc = self.sc._jvm, self.sc._jsc.sc()
        conf = jsc.conf().clone()
        conf.set("spark.eventLog.compress", "false").set("spark.eventLog.rolling.enabled", "false")
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            "traced-pass", jvm.scala.Option.empty(), jvm.java.net.URI(f"file://{self.log_dir}"),
            conf, jsc.hadoopConfiguration(),
        )  # fmt: skip
        self._listener.start()
        jsc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # every event of the block reaches the file
        jsc.removeSparkListener(self._listener)
        self._listener.stop()


def read_event_log(log_dir: str) -> dict:
    """Jobs (submit/complete ms, stage ids), stages (task count) and
    per-stage task metric lists from the single event log in ``log_dir``."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    with open(os.path.join(log_dir, files[0]), encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"submit": ev["Submission Time"], "stages": ev["Stage IDs"]}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                m, info = ev["Task Metrics"], ev["Task Info"]
                sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                py = sum(
                    int(a.get("Update", 0))
                    for a in info.get("Accumulables", [])
                    if a.get("Name") in _PY_BYTES
                )
                tasks.setdefault(ev["Stage ID"], []).append(
                    {
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "input": m.get("Input Metrics", {}).get("Bytes Read", 0),
                        "output": m.get("Output Metrics", {}).get("Bytes Written", 0),
                        "python": py,
                    }
                )
    return {"jobs": jobs, "tasks": tasks}


def exec_summary(log: dict, windows: list[tuple[float, float]], cores: int) -> dict[str, float]:
    """Task totals over the jobs submitted inside any of ``windows``
    (epoch seconds); busy and no-job time are taken against the summed
    window length."""
    wins = [(a * 1000, b * 1000) for a, b in windows]
    picked = [j for j in log["jobs"].values() if any(a <= j["submit"] <= b for a, b in wins)]
    stage_ids = {s for j in picked for s in j["stages"]}
    tasks = [t for s in stage_ids for t in log["tasks"].get(s, [])]
    wall_ms = sum(b - a for a, b in wins)
    covered = 0.0
    for a, b in wins:
        spans = sorted((max(a, j["submit"]), min(b, j.get("end", b))) for j in picked)
        cur_a = cur_b = None
        for s, e in spans:
            if e <= s:
                continue
            if cur_b is None or s > cur_b:
                covered += 0 if cur_b is None else cur_b - cur_a
                cur_a, cur_b = s, e
            else:
                cur_b = max(cur_b, e)
        covered += 0 if cur_b is None else cur_b - cur_a
    skew = 0.0
    for s in stage_ids:
        runs = [t["run_ms"] for t in log["tasks"].get(s, [])]
        if len(runs) >= 2 and statistics.median(runs) > 0:
            skew = max(skew, max(runs) / statistics.median(runs))
    total = lambda k: float(sum(t[k] for t in tasks))  # noqa: E731
    return {
        "jobs": float(len(picked)),
        "stages": float(len(stage_ids)),
        "tasks": float(len(tasks)),
        "task_run_s": total("run_ms") / 1e3,
        "task_cpu_s": total("cpu_ns") / 1e9,
        "gc_s": total("gc_ms") / 1e3,
        "busy_ratio": total("run_ms") / (wall_ms * cores) if wall_ms else 0.0,
        "no_job_s": (wall_ms - covered) / 1e3,
        "shuffle_write_bytes": total("shuffle_write"),
        "shuffle_read_bytes": total("shuffle_read"),
        "spill_bytes": total("spill"),
        "input_bytes": total("input"),
        "output_bytes": total("output"),
        "python_bytes": total("python"),
        "max_task_skew": skew,
    }


# --- streaming ------------------------------------------------------------


def stream_probe_class():
    """Build the listener class lazily: importing pyspark's streaming
    module is only needed once a session exists."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        """Micro-batch progress of every streaming query in the session."""

        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            self.progress.append(
                {
                    "at": time.time(),
                    "query": str(p.id),
                    "input_rows": p.numInputRows,
                    "add_batch_ms": d.get("addBatch", 0),
                    "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                    "planning_ms": d.get("queryPlanning", 0),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamProbe


def stream_summary(progress: list[dict], start: float, end: float) -> dict[str, float]:
    """Batch totals inside one window; state size is each query's last
    reported state, summed over queries."""
    inside = [p for p in progress if start <= p["at"] <= end]
    last_state: dict[str, tuple[int, int]] = {}
    for p in inside:
        last_state[p["query"]] = (p["state_rows"], p["state_bytes"])
    return {
        "batches": float(len(inside)),
        "input_rows": float(sum(p["input_rows"] for p in inside)),
        "add_batch_s": sum(p["add_batch_ms"] for p in inside) / 1e3,
        "commit_s": sum(p["commit_ms"] for p in inside) / 1e3,
        "planning_s": sum(p["planning_ms"] for p in inside) / 1e3,
        "state_rows": float(sum(r for r, _ in last_state.values())),
        "state_bytes": float(sum(b for _, b in last_state.values())),
    }
