"""Measurement plumbing shared by the workloads: percentiles, spans,
process-tree RSS, the host calibration loop, Spark job/stage counting,
streaming progress digests and the shard -> batch latency map.

Everything above the ``--- Spark-facing ---`` marker is plain Python so
the self-tests in ``perfbench/tests`` run without a Spark session.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import threading
import time

# --- arithmetic -----------------------------------------------------------


def percentile(values, q: float) -> float:
    """Nearest-rank ``q``-quantile, capped at the highest rank that still
    has at least ten samples beyond it.

    The cap never goes below the median: with fewer than 21 samples a
    tail percentile has no ten samples beyond it and reports the median.
    ``percentile_rank`` returns the quantile actually used."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(len(xs), q)]


def _rank(n: int, q: float) -> int:
    median = math.ceil(0.5 * n) - 1
    return max(min(math.ceil(q * n) - 1, n - 11), median)


def percentile_rank(n: int, q: float) -> float:
    """The quantile ``percentile`` reports for ``n`` samples at ``q``."""
    return (_rank(n, q) + 1) / n


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(iv, lo, hi):
    return max(iv[0], lo), min(iv[1], hi)


def self_times(spans) -> dict:
    """Seconds per layer that each layer's spans spend outside their own
    child spans.  ``spans`` are dicts with ``id``, ``parent``, ``layer``,
    ``start`` and ``end``; a child interval is clipped to its parent."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out: dict = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = union_length(
            _clip((c["start"], c["end"]), lo, hi) for c in kids.get(s["id"], ()))
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(hi - lo - covered, 0.0)
    return out


def uncovered_frac(spans, windows, layers) -> float:
    """Share of the timed windows [(t0, t1), ...] that no span of
    ``layers`` covers."""
    total = sum(t1 - t0 for t0, t1 in windows)
    if total <= 0:
        return 0.0
    mine = [(s["start"], s["end"]) for s in spans
            if s["layer"] in layers and s["end"] is not None]
    cov = sum(union_length(_clip(iv, t0, t1) for iv in mine)
              for t0, t1 in windows)
    return max(0.0, 1.0 - cov / total)


def failure_counts(attempted: int, failed: int, check_ok: bool) -> tuple:
    """(attempted, failed) for the result line: a failed output check
    fails every attempted unit of the run."""
    attempted = max(int(attempted), 1)
    return attempted, attempted if not check_ok else min(int(failed), attempted)


def read_source_log(checkpoint: str, source: int = 0) -> dict:
    """File name -> batch id, from a file-stream checkpoint's source log.

    Each log file (``<batch>`` or ``<batch>.compact``) is a version line
    followed by one JSON entry per file; a compact file repeats every
    earlier entry, so the batch id is read from the entry itself."""
    out: dict = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", str(source), "*")):
        name = os.path.basename(p)
        if not name.split(".")[0].isdigit():
            continue
        with open(p) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def shard_latencies_ms(due: dict, file_batch: dict, commit_end: dict) -> list:
    """Per shard: its due time to the end of the sink commit of the batch
    that read it, in ms.  A shard no committed batch read is an error."""
    out = []
    for name, t_due in due.items():
        b = file_batch.get(name)
        if b is None or b not in commit_end:
            raise RuntimeError(f"shard {name} was never committed")
        out.append((commit_end[b] - t_due) * 1e3)
    return out


# --- spans ----------------------------------------------------------------


class Tracer:
    """In-memory spans around calls into each layer.  Disabled, ``span``
    is a shared no-op context, so the untraced run pays one call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self._lock = threading.Lock()
        self._null = contextlib.nullcontext()

    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            return self._null
        return self._open(layer, name, attrs)

    @contextlib.contextmanager
    def _open(self, layer, name, attrs):
        rec = self.add(layer, name, time.time(), None, attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, layer, name, start, end, attrs=None, parent=None) -> dict:
        """Record a span; ``parent`` defaults to the innermost open span
        of the calling thread's ``span`` stack (main thread only)."""
        with self._lock:
            rec = {"id": len(self.spans) + 1, "layer": layer, "name": name,
                   "start": start, "end": end, "attrs": dict(attrs or {}),
                   "parent": parent if parent is not None else
                   (self._stack[-1] if self._stack and
                    threading.current_thread() is threading.main_thread()
                    else None)}
            self.spans.append(rec)
        return rec

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# --- host -----------------------------------------------------------------


def calibrate(budget_s: float = 2.0, reps: int = 7) -> dict:
    """Time a fixed single-thread integer loop, at most ``budget_s``; the
    median rep in ms tells a slow host window from a slow program."""
    times = []
    t_end = time.perf_counter() + budget_s
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc = (acc + i * i) % 1_000_003
        times.append((time.perf_counter() - t) * 1e3)
        if time.perf_counter() > t_end:
            break
    return {"calib_loop_ms": round(percentile(times, 0.5), 3),
            "calib_reps": len(times)}


def cpu_ticks() -> tuple:
    """(steal, total) jiffies of all CPUs, from ``/proc/stat``; the
    difference over a window gives the share the hypervisor took."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    # guest time is already counted in user time
    return ticks[7], sum(ticks[:8])


def steal_frac(before: tuple, after: tuple) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _children() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed resident memory of this process and its descendants
    (the Spark JVM and its Python workers), minus the ``exclude``
    subtrees, sampled every ``interval_s``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.exclude: set = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        """Sum one sample over the tree.  The JVM this process launched
        counts its RSS from ``statm``: reading ``smaps_rollup`` walks
        every page of its heap under the memory-map lock and slows it
        down.  Python processes count their PSS, which splits the pages
        forked workers share with their daemon among the sharers.  Any
        other process is a short-lived helper the JVM forks; until it
        execs it shares the JVM's pages, so it is skipped."""
        kids, total, todo = _children(), 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            comm = _comm(pid)
            if pid == os.getpid() or comm.startswith("python"):
                total += _pss_bytes(pid)
            elif comm == "java" and pid in kids.get(os.getpid(), ()):
                total += _rss_bytes(pid)
            todo.extend(kids.get(pid, ()))
        self.peak = max(self.peak, total)
        return total

    def _run(self):
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(root, f))
    return total


# --- Spark-facing ---------------------------------------------------------


class JobCounter:
    """Jobs and stages of the actions run under one job group, read back
    through the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextlib.contextmanager
    def group(self, name: str):
        self._n += 1
        gid = f"perfbench-{self._n}-{name}"
        self.sc.setJobGroup(gid, name)
        out = {"jobs": 0, "stages": 0}
        try:
            yield out
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(key, None)
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            out["jobs"] = len(jobs)
            for j in jobs:
                info = tracker.getJobInfo(j)
                out["stages"] += len(info.stageIds) if info else 0


def progress_dicts(query) -> list:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p)
            for p in query.recentProgress]


def _pct(xs, q=0.5):
    return float(percentile(xs, q)) if xs else 0.0


def stream_digest(progress: list) -> dict:
    """Per-batch phase and state-store figures from progress records."""
    ran = [p for p in progress if "addBatch" in (p.get("durationMs") or {})]
    data = [p for p in ran if p.get("numInputRows", 0) > 0]

    def phase(key):
        return _pct([p["durationMs"].get(key, 0) for p in data])

    ops = [s for p in ran for s in (p.get("stateOperators") or [])]
    return {
        "streaming.batches": len(ran),
        "streaming.rows_per_batch_p50": _pct([p["numInputRows"] for p in data]),
        "streaming.trigger_ms_p50": phase("triggerExecution"),
        "streaming.add_batch_ms_p50": phase("addBatch"),
        "streaming.query_planning_ms_p50": phase("queryPlanning"),
        "streaming.latest_offset_ms_p50": phase("latestOffset"),
        "streaming.wal_commit_ms_p50": phase("walCommit"),
        "streaming.commit_offsets_ms_p50": phase("commitOffsets"),
        "streaming.state.commit_ms_p50": _pct(
            [s.get("commitTimeMs", 0) for p in data
             for s in (p.get("stateOperators") or [])]),
        "streaming.state.rows_total_max": max(
            [s.get("numRowsTotal", 0) for s in ops], default=0),
        "streaming.state.memory_bytes_max": max(
            [s.get("memoryUsedBytes", 0) for s in ops], default=0),
        "streaming.state.rows_dropped_by_watermark": sum(
            s.get("numRowsDroppedByWatermark", 0) for s in ops),
    }


#: progress phases in the order a micro-batch runs them
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def add_batch_spans(tracer: Tracer, progress: list, sink_spans: dict) -> None:
    """Attach each batch's progress phases as child spans of the batch,
    laid end to end from the trigger start, and re-parent the batch's
    sink span under its ``addBatch`` phase."""
    for p in progress:
        dur = p.get("durationMs") or {}
        if "addBatch" not in dur:
            continue
        t = _epoch(p["timestamp"])
        batch = tracer.add("streaming", "batch", t,
                           t + dur.get("triggerExecution", 0) / 1e3,
                           {"batch_id": p["batchId"]}, parent=0)
        for key in PHASES:
            if key not in dur:
                continue
            ph = tracer.add("streaming", key, t, t + dur[key] / 1e3,
                            parent=batch["id"])
            t = ph["end"]
            sink = sink_spans.get(p["batchId"]) if key == "addBatch" else None
            if sink is not None:
                sink["parent"] = ph["id"]
