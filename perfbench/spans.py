"""Spans around the public functions of each hooqu_spark layer.

The program carries no probes of its own: for a traced pass the
benchmark swaps each function below for a wrapper that opens a span,
and swaps the original back afterwards, so untraced passes run the
unmodified code.  A span records wall seconds, its call count and the
Spark jobs started while it was the innermost open span.  Jobs are
attributed with ``setJobGroup`` (one group per span instance) and
counted with ``statusTracker().getJobIdsForGroup`` once the listener
bus has drained, so a job is counted by the span that issued it.
"""

from __future__ import annotations

import functools
import importlib
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from typing import Callable, Dict, List, Tuple

# (span name, module, attribute path).  Functions that
# ``hooqu_spark.pipeline.core`` and ``hooqu_spark.verification_suite``
# import by name are patched where they are looked up.
SPANS: List[Tuple[str, str, str]] = [
    ("pipeline.core", "hooqu_spark.pipeline.core", "run_pipeline"),
    ("checkpoint.write", "pyspark.sql.readwriter", "DataFrameWriter.parquet"),
    ("lineage.states", "hooqu_spark.pipeline.core", "compute_partition_states"),
    ("lineage.state_log", "hooqu_spark.lineage", "StateRepository.save"),
    ("lineage.state_log", "hooqu_spark.lineage", "StateRepository.load"),
    ("lineage.state_log", "hooqu_spark.lineage", "StateRepository.committed_buckets"),
    ("lineage.merge", "hooqu_spark.pipeline.core", "merge_states"),
    ("lineage.merge", "hooqu_spark.pipeline.core", "metrics_from_states"),
    ("verification_suite.run", "hooqu_spark.verification_suite",
     "VerificationSuite.do_verification_run"),
    ("analyzers.runner", "hooqu_spark.verification_suite", "do_analysis_run"),
    ("analyzers.grouping", "hooqu_spark.analyzers.grouping",
     "FrequencyBasedAnalyzer.frequency_stats"),
    ("checks.evaluate", "hooqu_spark.checks", "Check.evaluate"),
]
SPAN_NAMES = sorted({name for name, _, _ in SPANS})


class _Frame:
    __slots__ = ("name", "group", "t0", "child_s")

    def __init__(self, name: str, group: str):
        self.name = name
        self.group = group
        self.t0 = time.perf_counter()
        self.child_s = 0.0


class Tracer:
    """Collects spans for one traced pass; ``summary()`` aggregates
    them per span name."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._stack: List[_Frame] = []
        self._id = uuid.uuid4().hex  # group ids never repeat across tracers
        self._seq = 0
        # (name, group, total_s, self_s, is_root) per closed span
        self._closed: List[Tuple[str, str, float, float, bool]] = []
        self._children: Dict[str, List[str]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        # A span re-entered from inside itself (committed_buckets calls
        # load) stays one span.
        if self._stack and self._stack[-1].name == name:
            yield
            return
        self._seq += 1
        frame = _Frame(name, f"perfbench-{self._id}-{self._seq}")
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            self._children[parent.group].append(frame.group)
        self._stack.append(frame)
        self.sc.setJobGroup(frame.group, name)
        try:
            yield
        finally:
            dt = time.perf_counter() - frame.t0
            self._stack.pop()
            if parent is not None:
                parent.child_s += dt
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._closed.append((name, frame.group, dt, dt - frame.child_s, parent is None))

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def patched(self):
        """Install every span wrapper for the duration of the block."""
        saved = []
        try:
            for name, module, path in SPANS:
                owner = importlib.import_module(module)
                *classes, attr = path.split(".")
                for cls in classes:
                    owner = getattr(owner, cls)
                # a class's __dict__ keeps a staticmethod wrapped
                raw = owner.__dict__[attr]
                saved.append((owner, attr, raw))
                if isinstance(raw, staticmethod):
                    setattr(owner, attr, staticmethod(self.wrap(name, raw.__func__)))
                else:
                    setattr(owner, attr, self.wrap(name, raw))
            yield self
        finally:
            for owner, attr, raw in reversed(saved):
                setattr(owner, attr, raw)

    def root_s(self) -> float:
        """Seconds covered by spans that had no open parent."""
        return sum(total for _, _, total, _, root in self._closed if root)

    def summary(self) -> Dict[str, Dict[str, float]]:
        """Per span name: ``total_s``, ``self_s``, ``calls``,
        ``self_jobs`` and ``jobs`` (own plus descendants')."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        own = {
            group: len(tracker.getJobIdsForGroup(group))
            for _, group, _, _, _ in self._closed
        }

        def subtree_jobs(group: str) -> int:
            return own[group] + sum(subtree_jobs(c) for c in self._children[group])

        out: Dict[str, Dict[str, float]] = {
            n: {"total_s": 0.0, "self_s": 0.0, "calls": 0, "self_jobs": 0, "jobs": 0}
            for n in SPAN_NAMES
        }
        for name, group, total_s, self_s, _ in self._closed:
            agg = out[name]
            agg["total_s"] += total_s
            agg["self_s"] += self_s
            agg["calls"] += 1
            agg["self_jobs"] += own[group]
            agg["jobs"] += subtree_jobs(group)
        return out
