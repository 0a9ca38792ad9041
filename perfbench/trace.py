"""Spans recorded around the calls into each layer, and the Spark event log
read back per span.

Spans are kept in memory and written out when the run ends. The engine is
not edited: ``Tracer.patch`` wraps public callables at run time and
``Tracer.restore`` puts the originals back. Every Spark job started inside a
span carries the span path as its job description, so the event log's task
metrics can be attributed to the span that ran them.

Spark plans are lazy: a span around a plan builder (``build:*``) measures
construction, including any eager job inside it, and the span around the
write that materializes the plan (``write:*``, ``sink:*``) measures
execution.
"""

from __future__ import annotations

import contextlib
import functools
import json
import pathlib
import statistics
import time
import uuid


class Tracer:
    def __init__(self, spark):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._sc = spark.sparkContext

    def _path(self) -> str:
        return " > ".join(s["name"] for s in self._stack)

    def path_of(self, span: dict) -> str:
        """The job-description path jobs started inside ``span`` carry."""
        names = []
        while span is not None:
            names.append(span["name"])
            span = self.spans[span["parent"]] if span["parent"] is not None else None
        return " > ".join(reversed(names))

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobDescription(self._path())
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._sc.setJobDescription(self._path() if self._stack else None)

    def patch(self, owner: object, attr: str, label) -> None:
        """Wrap ``owner.attr`` so each call runs inside a span named
        ``label(*args, **kwargs)`` (or ``label`` when it is a string)."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            name = label(*args, **kwargs) if callable(label) else label
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # ------------------------------------------------------------ analysis

    def duration(self, span: dict) -> float:
        return span["end"] - span["start"]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        return self.duration(span) - sum(self.duration(c) for c in self.children(span))

    def descendants(self, span: dict) -> list[dict]:
        out, todo = [], self.children(span)
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def find(self, name: str, under: dict | None = None) -> list[dict]:
        pool = self.descendants(under) if under is not None else self.spans
        return [s for s in pool if s["name"] == name]

    def dump(self, path: pathlib.Path) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0,
             "self": self.self_time(s)}
            for s in self.spans
        ]
        path.write_text("\n".join(json.dumps(r) for r in rows) + "\n")


class EventLog:
    """Jobs and task metrics from the one uncompressed Spark event log file
    a stopped session left in ``log_dir`` (Hadoop's ``.crc`` files aside)."""

    def __init__(self, log_dir: pathlib.Path):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        (log_file,) = [f for f in log_dir.iterdir() if not f.name.startswith(".")]
        with log_file.open() as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = ev["Job ID"]
            self.jobs[job] = {"description": props.get("spark.job.description") or ""}
            for sid in ev.get("Stage IDs", []):
                self.stage_job[sid] = job
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            self.tasks.append({
                "stage": ev["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
            })

    def select(self, prefix: str) -> tuple[list[int], list[dict]]:
        """Jobs whose description starts with ``prefix`` and their tasks."""
        jobs = [j for j, d in self.jobs.items() if d["description"].startswith(prefix)]
        js = set(jobs)
        return jobs, [t for t in self.tasks if self.stage_job.get(t["stage"]) in js]

    @staticmethod
    def totals(tasks: list[dict]) -> dict:
        return {
            "shuffle_write_mb": sum(t["shuffle_write_bytes"] for t in tasks) / 2**20,
            "spill_mb": sum(t["spill_bytes"] for t in tasks) / 2**20,
            "task_gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
        }

    @staticmethod
    def max_over_median(tasks: list[dict]) -> float:
        """Task run-time max/median of the stage with the most task time:
        the bottleneck stage's skew."""
        by_stage: dict[int, list[int]] = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(t["run_ms"])
        if not by_stage:
            return 0.0
        runs = max(by_stage.values(), key=sum)
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 0.0
