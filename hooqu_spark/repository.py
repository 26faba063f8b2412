"""Metrics repository: persist computed metrics per run for
regression tracking (Deequ-style ``MetricsRepository``; absent from the
reference but part of the Deequ surface it mirrors).

Storage: one parquet file per save, ``<root>/metrics_<tag>_<seq>.parquet``,
with columns (tag, seq, entity, instance, name, value).  ``root`` is a
path or URI Spark can write (``file://``, ``hdfs://``, ``s3a://``, ...):
the files live on its Hadoop ``FileSystem`` (:mod:`hooqu_spark.store`),
a scheme Spark cannot open raises, and nothing is created before the
first save.  Metric sets are tiny, so pandas writes and reads them in
the Python process; loading a tag reads every file of its history.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional

import pandas as pd

from . import store
from .analyzers.base import Analyzer
from .metrics import Metric


_COLUMNS = ["tag", "seq", "entity", "instance", "name", "value"]


class MetricsRepository:
    def __init__(self, root: str):
        self.root = root

    def _next_seq(self, tag: str) -> int:
        pat = re.compile(rf"metrics_{re.escape(tag)}_(\d+)\.parquet$")
        seqs = [
            int(m.group(1))
            for f in store.list_names(self.root, f"metrics_{tag}_")
            if (m := pat.match(f))
        ]
        return max(seqs, default=-1) + 1

    def save(self, tag: str, metrics: Dict[Analyzer, Metric]) -> int:
        seq = self._next_seq(tag)
        rows = []
        for m in metrics.values():
            d = m.asdict()
            rows.append(
                (tag, seq, d["entity"], d["instance"], d["name"], d["value"])
            )
        pdf = pd.DataFrame(rows, columns=_COLUMNS)
        store.commit_parquet(self.root, f"metrics_{tag}_{seq}.parquet", pdf)
        return seq

    def load(self, tag: Optional[str] = None) -> pd.DataFrame:
        # the file-name prefix only narrows the reads: tag "a" also
        # prefixes tag "a_b"'s files, so the stored tag decides
        prefix = "metrics_" if tag is None else f"metrics_{tag}_"
        frames: List[pd.DataFrame] = [
            pdf if tag is None else pdf[pdf["tag"] == tag]
            for pdf in store.read_parquet(self.root, prefix)
        ]
        if not frames:
            return pd.DataFrame(columns=_COLUMNS)
        return pd.concat(frames, ignore_index=True)

    def latest(self, tag: str) -> pd.DataFrame:
        all_runs = self.load(tag)
        if all_runs.empty:
            return all_runs
        return all_runs[all_runs["seq"] == all_runs["seq"].max()].reset_index(
            drop=True
        )

    def diff(self, tag: str, name: str, instance: str) -> pd.DataFrame:
        """Time series of one metric across runs (regression tracking)."""
        runs = self.load(tag)
        sel = runs[(runs["name"] == name) & (runs["instance"] == instance)]
        return sel.sort_values("seq")[["seq", "value"]].reset_index(drop=True)
