"""Snapshot-aware sources + per-snapshot metric checkpointing.

Scale design: the ingestion loop never rescans committed data — each
new snapshot is ONE ``groupBy`` job producing mergeable analyzer
states keyed by the snapshot id (the same monoid states the lineage
layer uses for buckets), so whole-history metrics are a driver-side
fold over #snapshots tiny rows no matter how many petabytes the table
holds.  Re-listing snapshots after a crash re-ingests nothing: the
commit log is the idempotence guard.
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional, Protocol, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analyzers.base import ScanShareableAnalyzer
from ..lineage import StateRepository, _reject_frequency_analyzers, incremental_metrics

SNAPSHOT_COL = "_hooqu_snapshot"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 - py4j raises several wrapper types
        return False


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Read the pages table from either an Iceberg table identifier or
    a parquet path.

    Dispatch rule (deterministic — never inspects the local
    filesystem, so a same-named file in the driver's cwd cannot
    shadow a catalog table): anything with a ``/``, a URI scheme, or a
    ``.parquet`` suffix reads as parquet; everything else is treated
    as a catalog table name (``spark.table`` resolves Iceberg tables
    when the catalog is configured — see DEPLOY.md).  For a bare
    relative directory, pass ``./dirname``."""
    if "/" in source or "://" in source or source.endswith(".parquet"):
        return spark.read.parquet(source)
    return spark.table(source)


class SnapshotSource(Protocol):
    """Minimal protocol for incremental, snapshot-aware ingestion."""

    def snapshot_ids(self, spark: SparkSession) -> List[str]:
        """All snapshot ids, oldest first."""
        ...

    def read_snapshot(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        """The rows ADDED by exactly this snapshot (the delta)."""
        ...


class IcebergSnapshotSource:
    """Snapshot deltas of an Iceberg table.

    * ``snapshot_ids``: the ``<table>.snapshots`` metadata table,
      ordered by ``committed_at`` (append-only, so the order is
      stable across listings).
    * ``read_snapshot``: an incremental read between the snapshot's
      parent and itself (``start-snapshot-id`` is exclusive); the
      first snapshot (no parent) reads ``VERSION AS OF`` directly.

    Untestable in this sandbox (no Iceberg runtime jar) — the
    dispatch and ingestion logic are covered through
    :class:`ParquetBatchSource` and a protocol double; this class is
    deliberately thin declarative Spark API calls.
    """

    def __init__(self, table: str):
        self.table = table
        self._parents: Dict[str, Optional[str]] = {}

    def snapshot_ids(self, spark: SparkSession) -> List[str]:
        rows = spark.sql(
            f"SELECT snapshot_id, parent_id, operation"
            f" FROM {self.table}.snapshots ORDER BY committed_at"
        ).collect()
        # APPEND-ONLY METRIC CONTRACT, handled per operation kind:
        #
        # * ``append`` — the normal delta read.
        # * ``replace`` — compaction (rewrite_data_files etc.): row
        #   content is unchanged, so it is a metric NO-OP; skipped
        #   from the ingest list (raising here would brick every
        #   table with routine maintenance).
        # * ``overwrite``/``delete`` — rows were removed, which
        #   add-only monoid states cannot subtract.  The history is
        #   RE-BASELINED at the latest such snapshot: it is returned
        #   as a full-state read (parent None -> VERSION AS OF) and
        #   everything before it is dropped from the list.  For a
        #   fresh run that is exactly right (states = table state at
        #   the destructive snapshot + appends after it); a run that
        #   already committed earlier snapshots would double-count,
        #   so ``ingest_snapshots`` raises in that case.
        self._parents = {}
        out: List[str] = []
        for r in rows:
            sid = str(r["snapshot_id"])
            op = r["operation"]
            if op == "replace":
                continue
            if op != "append":
                out.clear()
                self._parents = {sid: None}  # full-state re-baseline
                out.append(sid)
                continue
            self._parents[sid] = (
                None if r["parent_id"] is None else str(r["parent_id"])
            )
            out.append(sid)
        return out

    def is_full_state(self, snapshot_id: str) -> bool:
        """True when ``read_snapshot`` would return the FULL table
        state (history root or destructive-snapshot re-baseline)
        rather than a delta — ``ingest_snapshots`` uses this to refuse
        double-counting into an already-committed run."""
        return self._parents.get(str(snapshot_id)) is None

    def read_snapshot(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        # "no parent" (first snapshot) and "parent not cached" must not
        # be conflated — the latter would silently return the FULL
        # table state instead of the delta and double-count everything.
        if snapshot_id not in self._parents:
            self.snapshot_ids(spark)
        if snapshot_id not in self._parents:
            raise ValueError(
                f"unknown snapshot {snapshot_id!r} for table {self.table}"
            )
        parent = self._parents[snapshot_id]
        if parent is None:
            return spark.sql(
                f"SELECT * FROM {self.table} VERSION AS OF {snapshot_id}"
            )
        return (
            spark.read.format("iceberg")
            .option("start-snapshot-id", parent)
            .option("end-snapshot-id", snapshot_id)
            .load(self.table)
        )


class ParquetBatchSource:
    """Directory-of-batches fallback with Iceberg-snapshot semantics:
    each immutable subdirectory of ``root`` is one "snapshot" whose
    delta is the subdirectory's parquet files.  Subdirectory NAMES are
    the snapshot ids (sorted lexicographically — use sortable batch
    ids like ``2026-08-17T12``)."""

    def __init__(self, root: str):
        self.root = root

    def snapshot_ids(self, spark: SparkSession) -> List[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
            and not d.startswith((".", "_"))
        )

    def read_snapshot(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self.root, snapshot_id))


def ingest_snapshots(
    spark: SparkSession,
    source: SnapshotSource,
    repository: StateRepository,
    run_id: str,
    analyzers: Sequence[ScanShareableAnalyzer],
):
    """Fold every not-yet-committed snapshot into the run's metric
    states; returns ``(new_snapshot_ids, merged_metrics)`` where the
    metrics cover ALL committed snapshots (old + new).

    Each new snapshot costs one fused ``groupBy`` job over its delta
    only; committed snapshots are never rescanned.  A snapshot id
    already in the commit log is skipped even if re-listed (crash
    between jobs, retried driver) — the per-partition states make the
    whole loop idempotent."""
    _reject_frequency_analyzers(analyzers)
    committed = set(repository.committed_buckets(run_id))
    new_ids: List[str] = []
    metrics = None
    is_full_state = getattr(source, "is_full_state", lambda _s: False)
    for sid in source.snapshot_ids(spark):
        if str(sid) in committed:
            continue
        if (committed or new_ids) and is_full_state(str(sid)):
            # a destructive (overwrite/delete) snapshot re-baselined
            # the source to a FULL-state read, but this run already
            # committed earlier deltas — folding the full state in
            # would double-count every previously-committed row, and
            # add-only monoid states cannot subtract the rows the
            # destructive snapshot removed.  Start a fresh run_id.
            raise ValueError(
                f"snapshot {sid!r} is a full-state re-baseline "
                f"(destructive snapshot in the source history) but run "
                f"{run_id!r} has already committed "
                f"{len(committed) + len(new_ids)} snapshot(s); add-only "
                f"metric states cannot reconcile this — restart under a "
                f"new run_id"
            )
        delta = source.read_snapshot(spark, str(sid)).withColumn(
            SNAPSHOT_COL, F.lit(str(sid))
        )
        metrics = incremental_metrics(
            repository, run_id, list(analyzers), delta, SNAPSHOT_COL
        )
        new_ids.append(str(sid))
    if metrics is None:  # nothing new: report the committed whole
        metrics = repository.merged_metrics(run_id, list(analyzers))
    return new_ids, metrics
