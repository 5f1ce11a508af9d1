"""Run-time observation from outside the engine package.

- :class:`Tracer` keeps spans in memory and wraps public package functions
  (catalog reads, stream sources, the state-partition rule) with timing
  spans for the traced run only; every wrapper is removed again on exit.
- :class:`ProgressListener` collects ``StreamingQueryListener`` progress
  keyed by ``runId`` and attributes each run to the query that started it.
- :class:`RssSampler` polls the peak resident memory of this process and
  every process below it (the Spark driver JVM and its Python workers).
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import threading
import time
from collections import defaultdict

from measure import Span

# (module, function, span name): the public functions timed from outside.
# A wrapper replaces the function in its defining module and in every
# engine module that imported it by name.
WRAPPED = (
    ("flink_1_6_0_spark.catalog", "read_table", "catalog.read"),
    ("flink_1_6_0_spark.sources.stream", "events_stream", "sources.stream_open"),
    ("flink_1_6_0_spark.sources.stream", "read_parquet_stream", "sources.stream_open"),
    ("flink_1_6_0_spark.sources.stream", "stateful_shuffle_partitions", "sources.state_partitions"),
)


class Tracer:
    """In-memory spans for one run; ``current`` is the innermost open span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.current: Span | None = None
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, qid: str = "", **attrs):
        parent = self.current
        s = Span(name, time.time(), 0.0, parent, qid or (parent.qid if parent else ""), attrs)
        self.current = s
        try:
            yield s
        finally:
            s.end = time.time()
            self.current = parent
            self.spans.append(s)

    def install(self) -> None:
        """Wrap every :data:`WRAPPED` function."""
        for mod_name, fn_name, span_name in WRAPPED:
            original = getattr(sys.modules[mod_name], fn_name)
            wrapper = self._wrap(original, span_name)
            for mod in list(sys.modules.values()):
                if (
                    getattr(mod, "__name__", "").startswith("flink_1_6_0_spark")
                    and getattr(mod, fn_name, None) is original
                ):
                    self._restore.append((mod, fn_name, original))
                    setattr(mod, fn_name, wrapper)

    def uninstall(self) -> None:
        for mod, fn_name, original in reversed(self._restore):
            setattr(mod, fn_name, original)
        self._restore.clear()

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if threading.current_thread() is not threading.main_thread():
                return fn(*args, **kwargs)
            with self.span(span_name) as s:
                result = fn(*args, **kwargs)
                if isinstance(result, int):
                    s.attrs["value"] = result
                return result

        return timed


def progress_listener_class():
    """Build the listener class lazily: importing pyspark's streaming module
    is left to the run, not to module import."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        """Progress of every streaming run, keyed by ``runId``.

        ``onQueryStarted`` is delivered before ``start()`` returns, so the
        runner's open query id at that moment owns the run. Progress and
        termination arrive later, on the listener bus."""

        def __init__(self, tracer: Tracer) -> None:
            self.tracer = tracer
            self.lock = threading.Lock()
            self.owner: dict[str, str] = {}
            self.progress: dict[str, list[dict]] = defaultdict(list)
            self.ended: set[str] = set()

        def onQueryStarted(self, event) -> None:
            cur = self.tracer.current
            with self.lock:
                self.owner[str(event.runId)] = cur.qid if cur else ""

        def onQueryProgress(self, event) -> None:
            p = event.progress
            record = {
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
                "state": [
                    {
                        "rows_total": o.numRowsTotal,
                        "memory_bytes": o.memoryUsedBytes,
                        "commit_ms": o.commitTimeMs,
                        "instances": o.numStateStoreInstances,
                    }
                    for o in p.stateOperators
                ],
            }
            with self.lock:
                self.progress[str(p.runId)].append(record)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self.lock:
                self.ended.add(str(event.runId))

        def runs_of(self, qid: str) -> list[str]:
            with self.lock:
                return [r for r, q in self.owner.items() if q == qid]

        def wait_terminated(self, qid: str, timeout: float = 30.0) -> bool:
            """Block until every run ``qid`` started has reported its end."""
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self.lock:
                    if all(r in self.ended for r, q in self.owner.items() if q == qid):
                        return True
                time.sleep(0.02)
            return False

    return ProgressListener


def _parents() -> dict[int, int]:
    """pid -> parent pid for every process visible in /proc."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass  # exited while listing
    return parent


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of ``pid`` in KiB, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Polls VmHWM of this process and all its descendants; :meth:`peak_mb`
    is the sum of each process's peak."""

    def __init__(self, interval: float = 1.0) -> None:
        super().__init__(name="rss-sampler", daemon=True)
        self.interval = interval
        self.peaks: dict[int, int] = {}
        self.lock = threading.Lock()
        self._stop_event = threading.Event()

    def descendants(self) -> list[int]:
        """This process first, then every process below it."""
        children = defaultdict(list)
        for pid, ppid in _parents().items():
            children[ppid].append(pid)
        seen, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            seen.append(pid)
            todo += children[pid]
        return seen

    def sample(self) -> None:
        for pid in self.descendants():
            kb = vm_hwm_kb(pid)
            with self.lock:
                if kb > self.peaks.get(pid, 0):
                    self.peaks[pid] = kb

    def run(self) -> None:
        while not self._stop_event.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=5)

    def peak_mb(self) -> float:
        self.sample()
        with self.lock:
            return sum(self.peaks.values()) / 1024.0
