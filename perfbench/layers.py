"""Layer tracing for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary:
either around a call the benchmark itself makes (``Tracer.span``) or by
wrapping a public function where its caller looks it up
(``Tracer.wrap``), e.g. ``ParquetLakeTable.apply_batch`` as called from
``replay.apply_epoch``. The engine itself is not modified.

Every span sets the Spark job group to ``<layer>#<span id>`` while it is
open, so the event log's task metrics can be folded back to the
innermost open layer. Spans stay in memory and are written out once, at
the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field

# The layers the traced run reports, named after the engine's modules.
# ``functions`` aggregates every contract query; per-query wall time is
# reported separately as ``functions.<query>.s``.
LAYERS = (
    "oplog.read_chunk",
    "replay.apply_epoch",
    "lake.apply_batch",
    "lake.manifest",
    "lake.read",
    "lake.vacuum",
    "bookmark.record",
    "metrics.replication_lag",
    "functions",
)

# (suffix, unit) of every per-layer measure.
MEASURES = (
    ("s", "s"),
    ("calls", "count"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("output_bytes", "B"),
    ("slot_idle_frac", "ratio"),
)

_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0


def layer_of(name: str) -> str:
    return "functions" if name.startswith("functions.") else name


@dataclass
class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job
    group each span sets."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _restore: list[tuple[object, str, object]] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty(_GROUP_KEY, f"{name}#{s.id}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP_KEY, f"{parent.name}#{parent.id}" if parent else None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until ``unwrap``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def unwrap(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def self_times(self, t0: float, t1: float) -> dict[str, list[float]]:
        """Per span name: self times (duration minus direct children) of
        the spans that started inside [t0, t1]."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if t0 <= s.start <= t1:
                out.setdefault(s.name, []).append(s.end - s.start - child[s.id])
        return out

    def coverage(self, t0: float, t1: float) -> float:
        """Share of [t0, t1] covered by top-level spans."""
        busy = sum(
            min(s.end, t1) - max(s.start, t0)
            for s in self.spans
            if s.parent is None and s.end > t0 and s.start < t1
        )
        return busy / (t1 - t0) if t1 > t0 else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def fold_event_log(
    log_dir: str, wall0: float, wall1: float
) -> dict[str | None, dict[str, float]]:
    """Task metrics of the jobs submitted inside the wall-clock window
    [wall0, wall1], summed per layer (the job group's layer; ``None``
    for jobs submitted outside every span)."""
    job_layer: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    acc: dict[str | None, dict[str, float]] = {}
    jobs_seen: dict[str | None, set[int]] = {}
    # Spark 4 writes a directory per application, holding numbered
    # ``events_<n>_<app>`` files; older layouts write one file
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p)]
    paths.sort(key=lambda p: [int(t) if t.isdigit() else t for t in os.path.basename(p).split("_")])
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    if not wall0 <= ev.get("Submission Time", 0) / 1e3 <= wall1:
                        continue
                    group = (ev.get("Properties") or {}).get(_GROUP_KEY)
                    job_layer[jid] = layer_of(group.rsplit("#", 1)[0]) if group else None
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev.get("Stage ID"))
                    if jid not in job_layer:
                        continue
                    layer = job_layer.get(jid)
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    out = m.get("Output Metrics") or {}
                    a = acc.setdefault(layer, {})
                    jobs_seen.setdefault(layer, set()).add(jid)
                    for k, v in (
                        ("tasks", 1),
                        ("run_s", m.get("Executor Run Time", 0) / 1e3),
                        ("executor_cpu_s", m.get("Executor CPU Time", 0) / 1e9),
                        ("gc_s", m.get("JVM GC Time", 0) / 1e3),
                        (
                            "shuffle_read_bytes",
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        ),
                        ("shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0)),
                        (
                            "spill_bytes",
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        ),
                        ("output_bytes", out.get("Bytes Written", 0)),
                    ):
                        a[k] = a.get(k, 0) + v
    for layer, jobs in jobs_seen.items():
        acc[layer]["jobs"] = len(jobs)
    return acc


def layer_metrics(
    tracer: Tracer, folded: dict, t0: float, t1: float, slots: int, queries
) -> dict[str, tuple[float, str]]:
    """``<layer>.<measure>`` for every layer in LAYERS, plus
    ``functions.<query>.s`` and the span coverage of the timed loop."""
    selfs = tracer.self_times(t0, t1)
    by_layer: dict[str, list[float]] = {}
    for name, ts in selfs.items():
        by_layer.setdefault(layer_of(name), []).extend(ts)
    out: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        ts = by_layer.get(layer, [])
        f = folded.get(layer, {})
        busy = sum(ts)
        vals = {
            "s": busy,
            "calls": len(ts),
            "slot_idle_frac": (
                max(0.0, 1.0 - f.get("run_s", 0.0) / (busy * slots)) if busy > 0 else 0.0
            ),
        }
        for suffix, unit in MEASURES:
            out[f"{layer}.{suffix}"] = (float(vals.get(suffix, f.get(suffix, 0))), unit)
    for q in queries:
        out[f"functions.{q}.s"] = (float(sum(selfs.get(f"functions.{q}", []))), "s")
    out["trace.coverage"] = (tracer.coverage(t0, t1), "ratio")
    out["trace.unattributed_executor_cpu_s"] = (
        float(folded.get(None, {}).get("executor_cpu_s", 0.0)),
        "s",
    )
    return out
