"""Metrics repository: persist computed metrics per run for
regression tracking (Deequ-style ``MetricsRepository``; absent from the
reference but part of the Deequ surface it mirrors).

Storage: one parquet file per save under ``<root>/metrics_<tag>_<seq>``
with columns (tag, seq, entity, instance, name, value).  Driver-side
pandas/pyarrow IO — metric sets are tiny.
"""

from __future__ import annotations

import os
import re
from typing import Dict, List, Optional

import pandas as pd

from .analyzers.base import Analyzer
from .metrics import Metric


class MetricsRepository:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _next_seq(self, tag: str) -> int:
        pat = re.compile(rf"metrics_{re.escape(tag)}_(\d+)\.parquet$")
        seqs = [
            int(m.group(1))
            for f in os.listdir(self.root)
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
        pdf = pd.DataFrame(
            rows, columns=["tag", "seq", "entity", "instance", "name", "value"]
        )
        pdf.to_parquet(
            os.path.join(self.root, f"metrics_{tag}_{seq}.parquet"), index=False
        )
        return seq

    def load(self, tag: Optional[str] = None) -> pd.DataFrame:
        frames: List[pd.DataFrame] = []
        for f in sorted(os.listdir(self.root)):
            if not f.startswith("metrics_") or not f.endswith(".parquet"):
                continue
            # the file-name prefix only narrows the reads: tag "a" also
            # prefixes tag "a_b"'s files, so the stored tag decides
            if tag is not None and not f.startswith(f"metrics_{tag}_"):
                continue
            pdf = pd.read_parquet(os.path.join(self.root, f))
            frames.append(pdf if tag is None else pdf[pdf["tag"] == tag])
        if not frames:
            return pd.DataFrame(
                columns=["tag", "seq", "entity", "instance", "name", "value"]
            )
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
