"""Per-layer attribution of a Spark event log.

``tools/joblog.parse`` already yields per-job latency and per-stage task
times.  This module reads the same log once more for what joblog leaves
out — the job group and stage ids of every job, and per-task shuffle,
spill, GC, input bytes and failures — and folds both into one summary per
job group (the benchmark sets one group around each layer call).

Jobs issued inside ``IncrementalDedup.process_batch`` all share the
benchmark's group; they are split into sub-layers by their call site, the
``streaming.py`` line the driver thread was executing while the job ran.
Spark records no Python call site for DataFrame writes and counts, so
:class:`CallSiteSampler` samples it from the interpreter's stack, and
:func:`streaming_sublayers` maps the line to the statement that issued it.
"""

from __future__ import annotations

import ast
import bisect
import json
import os
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import joblog  # noqa: E402  (repo tool, used read-only)

MB = 1024.0 * 1024.0


def _task_row(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    return {
        "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "failed": int(bool(info.get("Failed")) or reason != "Success"),
    }


def _log_file(log_dir: str) -> str:
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".") and not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    return files[0]


def load(log_dir: str) -> dict:
    """Parse the single finished event log in ``log_dir`` into jobs (with
    group, submission time, duration, stage ids) and per-stage task rows."""
    path = _log_file(log_dir)
    base = joblog.parse(path)
    job_ms = {j["job"]: j for j in base["jobs"]}
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for line in joblog._event_lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id") or "",
                "start_ms": ev["Submission Time"],
                "stages": list(ev.get("Stage IDs") or []),
                "ms": job_ms.get(jid, {}).get("ms", 0),
            }
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev["Stage ID"], []).append(_task_row(ev))
    return {"jobs": jobs, "tasks": tasks}


def group_summary(parsed: dict, select) -> dict:
    """Fold every job for which ``select(job)`` is true: job count, summed
    job wall ms, task seconds, GC, shuffle, spill, input, failed tasks, and
    the skew (max/median task time) of the stage holding the most task time.
    A stage shared by several jobs counts once, for the first job."""
    seen: set[int] = set()
    out = {
        "jobs": 0, "job_s": 0.0, "task_s": 0.0, "gc_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "input_mb": 0.0, "failed_tasks": 0, "skew": 0.0,
    }
    heaviest: list[dict] = []
    for jid in sorted(parsed["jobs"]):
        job = parsed["jobs"][jid]
        if not select(job):
            continue
        out["jobs"] += 1
        out["job_s"] += job["ms"] / 1000.0
        for sid in job["stages"]:
            if sid in seen or sid not in parsed["tasks"]:
                continue
            seen.add(sid)
            rows = parsed["tasks"][sid]
            out["task_s"] += sum(r["ms"] for r in rows) / 1000.0
            out["gc_s"] += sum(r["gc_ms"] for r in rows) / 1000.0
            out["shuffle_read_mb"] += sum(r["shuffle_read"] for r in rows) / MB
            out["shuffle_write_mb"] += sum(r["shuffle_write"] for r in rows) / MB
            out["spill_mb"] += sum(r["spill"] for r in rows) / MB
            out["input_mb"] += sum(r["input"] for r in rows) / MB
            out["failed_tasks"] += sum(r["failed"] for r in rows)
            if sum(r["ms"] for r in rows) > sum(r["ms"] for r in heaviest):
                heaviest = rows
    if heaviest:
        med = statistics.median(r["ms"] for r in heaviest)
        out["skew"] = max(r["ms"] for r in heaviest) / med if med else 0.0
    return out


def streaming_sublayers() -> list[tuple[int, int, str]]:
    """(first_line, last_line, sub-layer) spans of ``mhap_spark/streaming.py``
    that issue Spark jobs during ``process_batch``, found from the source's
    syntax tree so the mapping follows edits to the file:

    * ``probe`` — ``BandIndex.probe`` (collision set, localCheckpoint) and
      the matched-id lookup that follows it;
    * ``verify_write`` — the verified-matches parquet write, the action
      that runs sketch, candidates and verify;
    * ``manifest`` — the ``keep_manifest`` block (recurrence guard and the
      keep/drop write);
    * ``index_write`` — the signature write and ``BandIndex.append``."""
    path = os.path.join(ROOT, "mhap_spark", "streaming.py")
    with open(path) as f:
        tree = ast.parse(f.read())
    spans: list[tuple[int, int, str]] = []
    for cls in (n for n in tree.body if isinstance(n, ast.ClassDef)):
        for fn in (n for n in cls.body if isinstance(n, ast.FunctionDef)):
            if cls.name == "BandIndex" and fn.name == "probe":
                spans.append((fn.lineno, fn.end_lineno, "probe"))
            elif cls.name == "BandIndex" and fn.name == "append":
                spans.append((fn.lineno, fn.end_lineno, "index_write"))
            elif cls.name == "IncrementalDedup" and fn.name == "process_batch":
                spans += _process_batch_spans(fn)
    return spans


def _process_batch_spans(fn: ast.FunctionDef) -> list[tuple[int, int, str]]:
    spans = []
    for node in ast.walk(fn):
        if isinstance(node, ast.If):
            test = ast.unparse(node.test)
            if "self.keep_manifest" in test:
                spans.append((node.lineno, node.end_lineno, "manifest"))
            elif "self.bindex is not None" in test:
                probes = "probe" in ast.unparse(node.body[0])
                name = "probe" if probes else "index_write"
                spans.append((node.lineno, node.end_lineno, name))
        elif isinstance(node, ast.Expr):
            src = ast.unparse(node)
            if src.startswith("matches.write"):
                spans.append((node.lineno, node.end_lineno, "verify_write"))
            elif src.startswith("sigs.write"):
                spans.append((node.lineno, node.end_lineno, "index_write"))
    return spans


class CallSiteSampler:
    """Samples, every ``interval`` seconds, the innermost line of ``path``
    on the stack of ``thread``; keeps only the changes, as (epoch ms, line).
    While an action runs, the driver thread waits inside it, so the line
    sampled during a job is the statement that issued the job."""

    interval = 0.002

    def __init__(self, path: str, thread: threading.Thread):
        self.path = os.path.abspath(path)
        self.ident = thread.ident
        self.times: list[float] = []
        self.lines: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _line(self) -> int:
        frame = sys._current_frames().get(self.ident)
        while frame is not None:
            if frame.f_code.co_filename == self.path:
                return frame.f_lineno
            frame = frame.f_back
        return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            line = self._line()
            if not self.lines or line != self.lines[-1]:
                self.times.append(time.time() * 1000.0)
                self.lines.append(line)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    def line_during(self, job: dict) -> int:
        """The sampled line at the middle of the job's run."""
        mid = job["start_ms"] + job["ms"] / 2.0
        i = bisect.bisect_right(self.times, mid) - 1
        return self.lines[i] if i >= 0 else 0


def sublayer_of(line: int, spans: list[tuple[int, int, str]]) -> str:
    """Innermost span containing a ``streaming.py`` line."""
    hits = [s for s in spans if s[0] <= line <= s[1]]
    if not hits:
        return "other"
    return min(hits, key=lambda s: s[1] - s[0])[2]
