"""Measurement plumbing: op recording, spans, Spark job counts, process
memory, and statistics. Nothing here imports the program under test."""

from __future__ import annotations

import json
import os
import signal
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from typing import Any, Callable, Dict, List, Optional


def median(xs: List[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def gmean(xs: List[float]) -> float:
    return statistics.geometric_mean(xs) if xs else 0.0


def tail(xs: List[float]) -> tuple:
    """(value, percentile, n): the highest percentile with at least ten
    samples above it. With 20 or fewer samples that percentile would not
    lie above the median, so the maximum is reported (percentile 100)."""
    if not xs:
        return 0.0, 0.0, 0
    s = sorted(xs)
    n = len(s)
    i = n - 11 if n > 20 else n - 1
    return s[i], 100.0 * (i + 1) / n, n


class Tracer:
    """Spans kept in memory: name, start, end, parent index, op id, and
    whether the span is extra work that only a traced op does."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.op_id: Optional[int] = None

    @contextmanager
    def span(self, name: str, extra: bool = False):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "extra": extra,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> List[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def by_op(self) -> Dict[int, Dict[str, float]]:
        """``{op id: {span name: summed duration}}`` over traced ops."""
        out: Dict[int, Dict[str, float]] = {}
        for s in self.spans:
            if s["op"] is not None and s["end"]:
                d = out.setdefault(s["op"], {})
                d[s["name"]] = d.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def extra_by_op(self) -> Dict[int, float]:
        """``{op id: seconds spent in extra-work spans}``."""
        out: Dict[int, float] = {}
        for s in self.spans:
            if s["extra"] and s["op"] is not None and s["end"]:
                out[s["op"]] = out.get(s["op"], 0.0) + s["end"] - s["start"]
        return out

    def self_times(self) -> Dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover (children never overlap: one client)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                child[s["parent"]] += s["end"] - s["start"]
        out: Dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"]:
                out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class JobGroups:
    """Spark job/stage/task counts per labelled job group, read from
    ``SparkContext.statusTracker()`` after the run so the listener bus
    has caught up."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.groups: List[tuple] = []  # (group id, label)
        self._n = 0

    @contextmanager
    def group(self, label: str):
        if not self.enabled:
            yield
            return
        self._n += 1
        gid = "perfbench-%d" % self._n
        self.sc.setJobGroup(gid, label)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.groups.append((gid, label))

    def counts(self) -> Dict[str, List[tuple]]:
        """``{label: [(jobs, stages_run, tasks_run), ...]}``, one tuple
        per time the label ran."""
        time.sleep(0.5)
        tracker = self.sc.statusTracker()
        out: Dict[str, List[tuple]] = {}
        for gid, label in self.groups:
            jobs = tracker.getJobIdsForGroup(gid)
            stages = tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = tracker.getStageInfo(sid)
                    done = (st.numCompletedTasks + st.numFailedTasks) if st else 0
                    if done:
                        stages += 1
                        tasks += done
            out.setdefault(label, []).append((len(jobs), stages, tasks))
        return out


class Recorder:
    """One closed-loop client's op log: latency samples per kind,
    attempted/failed counts, and the failure list. ``inject`` names
    deliberate faults for the benchmark's own tests: ``corrupt`` alters
    the first op's output before its check, ``raise`` makes the second
    op raise."""

    def __init__(self, tracer: Tracer, inject: tuple = ()):
        self.tracer = tracer
        self.inject = set(inject)
        self.samples: Dict[str, List[float]] = {}
        self.log: List[tuple] = []  # (kind, sub-kind, plain, op id, seconds)
        self.attempted = 0
        self.failed = 0
        self.failures: List[str] = []

    def op(
        self,
        kind: str,
        fn: Callable[[], Any],
        check: Callable[[Any], Optional[str]],
        sub: str = "",
        plain: bool = False,
    ) -> Any:
        """Run ``fn`` timed, then ``check(result)`` untimed. ``check``
        returns None when the output is right, else a description. An
        exception or a wrong output counts as failed; the run goes on.
        ``sub`` names the variant (query, format, commit type) and
        ``plain`` marks an op run without tracing inside a traced run."""
        self.attempted += 1
        n = self.attempted
        self.tracer.op_id = n
        try:
            if "raise" in self.inject and n == 2:
                raise RuntimeError("injected failure")
            t0 = time.perf_counter()
            with self.tracer.span("op.%s" % kind):
                result = fn()
            dt = time.perf_counter() - t0
            if "corrupt" in self.inject and n == 1:
                result = corrupt(result)
            problem = check(result)
        except Exception as exc:  # noqa: BLE001 - one failed op must not end the run
            self._fail(n, kind, "%s: %s" % (type(exc).__name__, exc))
            traceback.print_exc()
            return None
        finally:
            self.tracer.op_id = None
        if problem:
            self._fail(n, kind, "wrong output: " + problem)
            return None
        self.samples.setdefault(kind, []).append(dt)
        self.log.append((kind, sub, plain, n, dt))
        return result

    def trace_overhead(self) -> float:
        """Median over variants of traced/plain median latency, minus 1.
        The extra work a traced op does (its ``extra`` spans) is taken
        off its latency first, so only the cost of tracing remains."""
        extra = self.tracer.extra_by_op()
        by: Dict[tuple, List[float]] = {}
        for kind, sub, plain, n, dt in self.log:
            by.setdefault((kind, sub, plain), []).append(dt - extra.get(n, 0.0))
        ratios = [
            median(xs) / median(by[(k, s, True)])
            for (k, s, p), xs in by.items()
            if not p and (k, s, True) in by
        ]
        return median(ratios) - 1.0 if ratios else 0.0

    def _fail(self, n: int, kind: str, msg: str) -> None:
        self.failed += 1
        self.failures.append("op %d (%s): %s" % (n, kind, msg))
        print("perfbench: FAILED op %d (%s): %s" % (n, kind, msg), file=sys.stderr, flush=True)

    def all_samples(self) -> List[float]:
        return [x for xs in self.samples.values() for x in xs]


def corrupt(result: Any) -> Any:
    """A deliberately wrong copy of an op's output."""
    import pyarrow as pa

    if isinstance(result, pa.Table):
        return result.slice(0, max(result.num_rows - 1, 0))
    if isinstance(result, (list, tuple)):
        return list(result) + [None]
    return ("corrupted", result)


# ---------------------------------------------------------------- processes


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % d) as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> List[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open("/proc/%d/status" % pid) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus all its descendants
    (the JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me] + descendants(me))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open("/proc/%d/stat" % pid) as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM, and wait until every process this
    run started has exited (SIGKILL after ``timeout``)."""
    import subprocess

    from pyspark import SparkContext

    started = descendants(os.getpid())
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - still end the JVM below
        traceback.print_exc()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is ended below either way
            pass
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)
