"""The silver-table backend seam — the contract a storage engine must meet
for Full/Merge/Historic to run against it unchanged.

The reference binds its strategies directly to Delta Lake
(``Merge.scala:43-46``, ``Full.scala:47-66`` use ``DeltaTable``/
``.delta(path)``); this rebuild binds them to this PROTOCOL instead, with
``tables.lake_table.LakeTable`` as the production implementation (versioned
parquet + manifest CAS) and ``MemoryBackend`` below as a deliberately
minimal second implementation. ``tests/test_backend_contract.py`` runs the
same Full/Merge/Historic histories through BOTH and asserts identical final
states and summaries — turning the "a production deployment swaps in
delta-spark without touching merge/SCD2 logic" claim (docs/USAGE.md) into a
tested property.

REQUIRED surface (what Processing actually calls on the write path):

* ``exists() -> bool``
* ``read(version=None, prune_spec=None, ...) -> DataFrame`` — at least
  the latest manifest's ``version`` must be accepted (a merge reads the
  target at the version it plans from). ``prune_spec`` MAY be ignored: it
  only lets storage skip what holds none of the slice's partitions, and
  the caller still filters rows.
* ``overwrite(df, dynamic=False, metrics=None, operation=None,
  metrics_fn=None, base=None)`` — full or dynamic-partition overwrite; MUST
  execute the plan (it is the run's single action: ``df.observe`` metrics
  and ``metrics_fn`` results only exist after it) and MUST call
  ``metrics_fn`` after that action.
* ``replace_partitions(df, partition_values, metrics=None, operation=...,
  base=None)`` — copy-on-write of exactly the named partitions.
* Both commit on ``base`` (the manifest the caller planned from; None =
  the latest) and MUST raise ``ConcurrentCommitException`` when another
  commit landed after it.
* ``latest_manifest() -> manifest | None`` with ``.metrics: dict``,
  ``.segments: list`` (each with ``.partitions: dict | None``) and
  ``.version: int``.
* ``gc_orphans(older_than_seconds) -> list`` — MAY be a no-op.
* attributes ``path``, ``partition_by``.

An unpartitioned table has one layout: its segments own the whole table
(``partitions`` None). Processing rewrites a table whose unpartitioned
segments own partition values (LakeTable's retired PK-hash bucket layout)
on its next run.

OPTIONAL capabilities (LakeTable-only today, each used behind a Processing
setting that defaults off or a mode flag): ``merge_patch`` (MoR write
mode), ``optimize``/``vacuum``/``compact_small_segments`` (maintenance),
``to_view_sql`` (catalog output), time travel / CDF / deletion vectors.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakefoundation_spark.core.exceptions import ConcurrentCommitException
from datalakefoundation_spark.tables.lake_table import partition_filter


@dataclass
class MemSegment:
    partitions: dict | None = None


@dataclass
class MemManifest:
    version: int
    segments: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)
    operation: str = ""
    timestamp: float = 0.0


class MemoryBackend:
    """Minimal in-memory silver backend: committed state is a list of
    collected rows + schema per path (class-level store, so successive
    Processing instances over the same path share state like successive
    runs against real storage do). No MoR, no maintenance — the smallest
    surface the contract allows."""

    _STORES: dict[str, dict[str, Any]] = {}

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_by: list[str] | None = None,
        **_: Any,  # stats_columns etc. — accepted and ignored
    ) -> None:
        self.spark = spark
        self.path = path
        self.partition_by = list(partition_by or [])

    # ------------------------------------------------------------- state
    @property
    def _store(self) -> dict[str, Any] | None:
        return self._STORES.get(self.path)

    @classmethod
    def reset(cls) -> None:
        cls._STORES.clear()

    def exists(self) -> bool:
        return self._store is not None

    def latest_manifest(self) -> MemManifest | None:
        st = self._store
        if st is None:
            return None
        return MemManifest(
            version=st["version"],
            segments=[MemSegment(partitions=None)],
            metrics=dict(st["metrics"]),
            operation=st["operation"],
            timestamp=st["timestamp"],
        )

    # -------------------------------------------------------------- read
    def read(
        self,
        version: int | None = None,
        as_of_timestamp: float | None = None,
        prune_spec: Any = None,
    ) -> DataFrame:
        st = self._store
        if st is None:
            raise FileNotFoundError(f"MemoryBackend table does not exist: {self.path}")
        # time travel to an older version is an optional capability this
        # backend does not offer
        if (version is not None and version != st["version"]) or as_of_timestamp is not None:
            raise NotImplementedError("MemoryBackend has no time travel")
        return self.spark.createDataFrame(st["rows"], st["schema"])

    # ------------------------------------------------------------- write
    def _commit(
        self, df: DataFrame, metrics: dict | None, operation: str, metrics_fn, base
    ) -> None:
        rows = df.collect()  # THE action — populates observe metrics
        if metrics_fn is not None:
            metrics = {**(metrics or {}), **metrics_fn()}
        prev = self._store
        if base is not None and (prev is None or prev["version"] != base.version):
            raise ConcurrentCommitException(
                f"{self.path} changed after version {base.version}"
            )
        self._STORES[self.path] = {
            "rows": rows,
            "schema": df.schema,
            "metrics": dict(metrics or {}),
            "operation": operation,
            "version": (prev["version"] + 1) if prev else 0,
            "timestamp": time.time(),
        }

    def overwrite(
        self,
        df: DataFrame,
        dynamic: bool = False,
        metrics: dict | None = None,
        operation: str | None = None,
        metrics_fn=None,
        base: MemManifest | None = None,
    ) -> None:
        if dynamic and self.partition_by and self.exists():
            # dynamic partition overwrite: replace exactly the partitions
            # present in df — derive them from df itself like INSERT
            # OVERWRITE ... PARTITION does
            pvs = [
                {k: (None if r[k] is None else str(r[k])) for k in self.partition_by}
                for r in df.select(*self.partition_by).distinct().collect()
            ]
            self.replace_partitions(
                df, pvs, metrics=metrics, operation=operation or "full", base=base
            )
            return
        self._commit(df, metrics, operation or "full", metrics_fn, base)

    def replace_partitions(
        self,
        df: DataFrame,
        partition_values: list[dict[str, str]],
        metrics: dict | None = None,
        operation: str = "merge",
        base: MemManifest | None = None,
    ) -> None:
        if not self.exists():
            raise FileNotFoundError(f"MemoryBackend table does not exist: {self.path}")
        cur = self.read()
        # a NULL partition value makes the predicate NULL, not false: its
        # rows are kept unless it is one of the replaced values
        keep = cur.where(
            ~F.coalesce(partition_filter(partition_values, schema=cur.schema), F.lit(False))
        )
        self._commit(
            keep.unionByName(df, allowMissingColumns=True), metrics, operation, None, base
        )

    # ------------------------------------------------- declined capabilities
    def gc_orphans(self, older_than_seconds: float = 3600.0) -> list:
        return []
