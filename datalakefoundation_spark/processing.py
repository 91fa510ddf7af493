"""Processing — the main bronze->silver entry point (Processing.scala:34-351).

Composes: bronze slice read (S1/S2) -> pipeline P1-P11 -> cache ->
watermark capture/lookup -> strategy dispatch (Full / Merge / Historic) ->
watermark write -> summary log -> unpersist.

The single lazy transform chain is built once and cached; the (at most) four
actions — isEmpty, watermark max-agg, distinct partition values, and the
strategy's own writes/aggregations — reuse the cached slice
(Processing.scala:93-121 "Combine all transformations ... before any actions").
"""

from __future__ import annotations

import datetime as _dt
import logging
import time
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datalakefoundation_spark import pipeline as P
from datalakefoundation_spark import strategies as S
from datalakefoundation_spark.core.exceptions import (
    ConstraintViolationException,
    DatalakeException,
    DuplicateBusinesskeyException,
)
from datalakefoundation_spark.core.normalize import schema_compare
from datalakefoundation_spark.log import DatalakeLogManager
from datalakefoundation_spark.logging_ import ProcessingSummary
from datalakefoundation_spark.metadata.models import Entity, Metadata
from datalakefoundation_spark.tables.lake_table import (
    MASK_COL,
    LakeTable,
    partition_filter,
    prune_spec_isin,
)
from datalakefoundation_spark.watermark import (
    WatermarkStore,
    build_watermark_values,
    build_window_condition,
)

logger = logging.getLogger(__name__)


class Processing:
    def __init__(
        self,
        spark: SparkSession,
        metadata: Metadata,
        entity: Entity | int,
        slice_file: str,
        options: dict[str, Any] | None = None,
    ) -> None:
        self.spark = spark
        self.metadata = metadata
        self.entity = metadata.get_entity(entity) if isinstance(entity, int) else entity
        self.slice_file = slice_file
        self.options = options or {}
        env = metadata.environment

        self.prefix = env.systemfield_prefix
        self.pk_name = f"PK_{self.entity.destination}"
        self.output = self.entity.get_output()
        settings = self.entity.merged_settings()
        self.delete_missing = bool(
            self.options.get("delete_missing", settings.get("delete_missing", False))
        )
        # same option-over-setting precedence as every sibling toggle
        self.check_duplicates = bool(
            self.options.get("check_duplicates", settings.get("check_duplicates", True))
        )
        # Write mode for merge/historic runs. Unset (the default), every run
        # picks its path from the slice (_write_path): a merge-on-read patch
        # (append only the changed rows as a patch segment and mask the
        # superseded versions with a deletion-vector ref,
        # lake_table.merge_patch) while the patches are cheap, else a
        # rewrite of the touched partitions (the reference's Delta
        # copy-on-write MERGE shape), which folds their patches. "cow"
        # forces the rewrite, "mor" the patch — MoR writes O(changed rows)
        # per run regardless of table size, at the cost of a broadcast mask
        # join and a growing segment count on reads until auto-compaction
        # folds the patches.
        mode = self.options.get("write_mode", settings.get("write_mode"))
        self.write_mode = None if mode is None else str(mode).lower()
        if self.write_mode not in (None, "cow", "mor"):
            raise DatalakeException(f"write_mode must be cow|mor: {self.write_mode}")
        # CHECK constraints (Delta analog, rebuild addition): list of
        # {"name", "expression" (SQL boolean over post-pipeline columns),
        # "action": "fail" (default) | "drop"}. SQL CHECK semantics: a row
        # violates only when the expression is FALSE — NULL passes.
        # Violations are counted inside the fused bookkeeping aggregate
        # (zero extra scan); 'fail' aborts the run before any write,
        # 'drop' excludes the rows from the slice (and from watermarks,
        # partition sets, and counts).
        self.constraints = list(
            self.options.get("constraints", settings.get("constraints", [])) or []
        )
        for c in self.constraints:
            if "expression" not in c:
                raise DatalakeException(f"constraint missing 'expression': {c}")
            c.setdefault("name", c["expression"])
            c.setdefault("action", "fail")
            if c["action"] not in ("fail", "drop"):
                raise DatalakeException(f"constraint action must be fail|drop: {c}")
        # Additive schema evolution (Delta mergeSchema analog): a column the
        # bronze slice carries but silver lacks is ADDED to the target on
        # merge/historic runs (existing rows/versions read typed NULLs)
        # instead of warn-and-drop. Off by default — reference parity is
        # drop + warn (core/normalize schema_compare).
        self.schema_evolution_additive = bool(
            self.options.get(
                "schema_evolution.additive",
                settings.get("schema_evolution.additive", False),
            )
        )
        # processing.time override: invalid ISO -> error log + now; "now" is
        # computed in environment.timezone (Processing.scala:58-73,
        # Environment.scala:42-43), not the driver host's local zone.
        override = self.options.get("processing.time")
        if override:
            try:
                _dt.datetime.fromisoformat(override)
                self.processing_time = override
            except ValueError:
                logger.error("invalid processing.time %r; using now()", override)
                self.processing_time = env.now().isoformat(sep=" ", timespec="seconds")
        else:
            self.processing_time = env.now().isoformat(sep=" ", timespec="seconds")

        # no root_folder -> no system tables; a store rooted at "" would
        # resolve to the filesystem root ("/system/watermark")
        self.watermark_store = (
            WatermarkStore(spark, env.root_folder) if env.root_folder else None
        )
        self.log_sink: DatalakeLogManager | None = None
        if env.root_folder:
            self.log_sink = DatalakeLogManager.for_environment(spark, env)

        self._cached_source: DataFrame | None = None
        self._slice_count: int = 0
        self._new_watermarks: dict[str, tuple[str, str | None]] = {}
        self._stored_watermarks: dict[str, str | None] = {}
        self._partition_values: list[dict[str, str]] = []
        # read prune spec over the slice's partition values (None: none)
        self._partition_prune: list | None = None

    # ------------------------------------------------------------ source
    # The pipeline is compute-heavy (two sha256 passes over every column),
    # so a slice should spread at roughly one task per ~2 MB of compressed
    # parquet; below that the repartition round-trip costs more than it buys.
    _BYTES_PER_TASK = 2 << 20

    def _read_bronze(self) -> DataFrame:
        loc = self.output.bronzepath
        if loc.kind == "table":
            df = self.spark.read.table(loc.value)
            return df  # slice filter applied by pipeline P5 (filter_to_slice)
        slice_path = f"{loc.value}/{self.slice_file}"
        df = self.spark.read.parquet(slice_path)
        # Parquet can't split inside a row group, so a slice written as few
        # fat single-row-group files caps the whole pipeline's parallelism
        # no matter how many cores exist. When the byte size warrants more
        # tasks than there are files, fan out explicitly. At 100 TB slices
        # arrive as many files/row-groups and this is a no-op; the driver-side
        # FS probe costs ~ms either way.
        try:
            jvm = self.spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(slice_path)
            fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
            n_bytes = fs.getContentSummary(jpath).getLength()
            cores = self.spark.sparkContext.defaultParallelism
            target = min(cores, int(n_bytes // self._BYTES_PER_TASK))
            if target > 1 and len(df.inputFiles()) < target:
                df = df.repartition(target)
        except Exception:  # pragma: no cover - FS probe is best-effort
            pass
        return df

    def get_source(self, historic: bool = False) -> DataFrame:
        """Build the transform chain once, cache, run the bookkeeping actions,
        memoize (Processing.scala:84-121)."""
        if self._cached_source is not None:
            return self._cached_source
        e = self.entity
        df = self._read_bronze()
        df = P.apply_pipeline(
            df,
            destination=e.destination,
            businesskeys=e.businesskeys,
            transformations=[t.expressions for t in e.transformations],
            calculated=e.calculated_columns,
            casts=e.casts,
            renames=e.renames,
            slice_name=self.slice_file,
            processing_time=self.processing_time,
            prefix=self.prefix,
            historic=historic,
            bronze_is_table=self.output.bronzepath.kind == "table",
            # the guard is deferred and run below on the CACHED slice — as
            # an inline plan-build action it would scan bronze + P1-P5 twice
            check_duplicates=False,
        )
        # CHECK-constraint flags ride the plan so the cache holds them once;
        # violating rows stay OUT of every bookkeeping result below
        viols: dict[str, Any] = {}
        kept = F.lit(True)
        if self.constraints:
            for c in self.constraints:
                v = ~F.coalesce(F.expr(c["expression"]), F.lit(True))
                viols[c["name"]] = v
                kept = kept & ~v
        df = df.cache()
        # ONE bookkeeping action over the cached slice (it also populates
        # the cache): row count (empty check + Full metrics), watermark max
        # per column, the distinct partition-value set, and constraint
        # violation counts — the reference runs the first three as separate
        # jobs (Processing.scala:109,123-135,144-156); at 100 TB fusing them
        # means a single scan.
        wm_cols = [w.column_name for w in e.watermarks if w.column_name in df.columns]
        aggs = [F.sum(kept.cast("long")).alias("__n")]
        aggs += [F.max(F.when(kept, F.col(c))).alias(f"__wm_{c}") for c in wm_cols]
        aggs += [F.sum(v.cast("long")).alias(f"__viol_{i}") for i, v in enumerate(viols.values())]
        # duplicate-key EXISTENCE rides the same action (r11): PK groups =
        # distinct non-NULL PKs + one NULL group; duplicates exist iff
        # groups < kept rows — exactly check_duplicate_keys' groupBy cnt>1
        # condition, without its second scan-and-shuffle job. The detailed
        # guard (sample keys for the error message) runs only on the
        # failure path. count_distinct is exact; same pk-set shuffle volume
        # the guard job paid, one fewer pass over the slice.
        dup_fused = bool(self.check_duplicates and e.businesskeys)
        if dup_fused:
            pk = F.col(self.pk_name)
            aggs.append(F.count_distinct(F.when(kept, pk)).alias("__pk_d"))
            aggs.append(
                F.max((kept & pk.isNull()).cast("int")).alias("__pk_null")
            )
        if e.partition_columns:
            aggs.append(
                F.collect_set(
                    # when() yields NULL for dropped rows; collect_set skips NULLs
                    F.when(
                        kept,
                        F.struct(*[F.col(c).cast("string").alias(c) for c in e.partition_columns]),
                    )
                ).alias("__pvs")
            )
            # the typed values too: the target read prunes on them, encoded
            # like the min/max stats its segments and files record
            aggs += [
                F.collect_set(F.when(kept, F.col(c))).alias(f"__pvt_{i}")
                for i, c in enumerate(e.partition_columns)
            ]
        row = df.agg(*aggs).head()
        if viols:
            counts = {
                name: int(row[f"__viol_{i}"] or 0)
                for i, name in enumerate(viols.keys())
            }
            failing = {
                c["name"]: counts[c["name"]]
                for c in self.constraints
                if c["action"] == "fail" and counts[c["name"]] > 0
            }
            if failing:
                raise ConstraintViolationException(
                    f"entity {e.destination}: slice {self.slice_file} violates "
                    f"CHECK constraints {failing}"
                )
            dropped = {k: v for k, v in counts.items() if v > 0}
            if dropped:
                logger.warning(
                    "entity %s: dropping constraint-violating rows %s",
                    e.destination, dropped,
                )
            # downstream consumers see only clean rows (filter over the
            # populated cache — no recompute)
            df = df.where(kept)
        self._slice_count = int(row["__n"] or 0)
        if dup_fused:
            groups = int(row["__pk_d"] or 0) + int(row["__pk_null"] or 0)
            if groups < self._slice_count:
                # failure path only: the detailed guard re-scans the cached
                # slice to sample offending keys for the exception message
                P.check_duplicate_keys(
                    df, e.destination, e.businesskeys, pk_col=self.pk_name
                )
                raise DuplicateBusinesskeyException(  # pragma: no cover
                    f"Duplicate businesskeys in slice for {e.destination}"
                )
        if self._slice_count == 0:
            logger.warning("slice %s for entity %s is empty", self.slice_file, e.name)
        self._new_watermarks = {
            c: (type(row[f"__wm_{c}"]).__name__,
                None if row[f"__wm_{c}"] is None else str(row[f"__wm_{c}"]))
            for c in wm_cols
        }
        self._stored_watermarks = (
            self.watermark_store.latest(e.id) if self.watermark_store else {}
        )
        if e.partition_columns:
            pvs = [pv.asDict() for pv in row["__pvs"]]
            # a column the slice holds NULL in prunes nothing: min/max
            # stats skip NULLs, so they cannot show a file holds none
            spec = [
                group
                for i, c in enumerate(e.partition_columns)
                if pvs and all(pv[c] is not None for pv in pvs)
                for group in prune_spec_isin(c, row[f"__pvt_{i}"])
            ]
            self._partition_values = pvs
            self._partition_prune = spec or None
        self._cached_source = df
        return df

    # ------------------------------------------------------------ watermark
    def current_watermarks(self) -> dict[str, str | None]:
        """The slice's new max per watermark column (future bookmark)."""
        return {c: v for c, (_t, v) in self._new_watermarks.items()}

    def previous_watermarks(self) -> dict[str, str | None]:
        return build_watermark_values(self.entity.watermarks, self._stored_watermarks)

    def delete_window(self, qualifier: str = "t.", target: DataFrame | None = None):
        """Inclusive previous<=col<=current window + partition IN-list for
        whenNotMatchedBySource scoping (ProcessStrategy.scala:67-153).

        The predicate resolves against the TARGET side of the merge join, so
        a watermark column must exist there too — a column newly added to
        bronze but absent from the existing silver table is skipped (same
        missing-column rule the reference applies), not referenced into an
        AnalysisException. Pass ``target`` to enforce that."""
        src = self.get_source()
        fields = list(src.schema.fields)
        if target is not None:
            tcols = set(target.columns)
            fields = [f for f in fields if f.name in tcols]
        cond = build_window_condition(
            type(src.schema)(fields),
            self.entity.watermarks,
            self.previous_watermarks(),
            self.current_watermarks(),
            qualifier=qualifier,
        )
        if cond is None:
            # No buildable watermark window -> no delete inference at all;
            # a partition IN-list alone must not widen the scope (safe
            # default, ProcessStrategy.scala:100-112).
            return None
        if self._partition_values:
            cond = cond & partition_filter(
                self._partition_values, qualifier,
                schema=(src if target is None else target).schema,
            )
        return cond

    # ------------------------------------------------------------ silver table
    def silver_table(self):  # -> LakeTable | any tables.backend-conformant backend
        # memoized: a run calls this from 5+ sites
        if getattr(self, "_silver_table", None) is not None:
            return self._silver_table
        loc = self.output.silverpath
        env = self.metadata.environment
        if loc.kind == "table":
            # catalog output maps to a managed location under the root folder
            path = f"{env.root_folder}/_catalog/{loc.value.replace('.', '/')}"
        else:
            path = loc.value
        # backend seam (tables/backend.py): a factory in options swaps the
        # storage engine under Full/Merge/Historic without touching them —
        # the contract test runs both LakeTable and MemoryBackend through
        # identical histories
        factory = self.options.get("backend_factory")
        if factory is not None:
            self._silver_table = factory(
                spark=self.spark,
                path=path,
                partition_by=self.entity.partition_columns,
                stats_columns=[w.column_name for w in self.entity.watermarks]
                + list(self.entity.businesskeys or []),
            )
            return self._silver_table
        self._silver_table = LakeTable(
            self.spark,
            path,
            self.entity.partition_columns,
            # per-segment min/max stats for the entity's watermark +
            # businesskey columns — recorded free (df.observe during the
            # write) and used to skip segments that can't intersect a
            # delete-inference window (Delta file-skipping parity)
            stats_columns=[w.column_name for w in self.entity.watermarks]
            + list(self.entity.businesskeys or []),
        )
        return self._silver_table

    def register_silver_in_catalog(self) -> None:
        """Catalog output (K2, Full.scala:51-66): CREATE DATABASE IF NOT
        EXISTS + expose the silver table under its catalog name as a
        PERSISTENT view whose SQL is self-contained (explicit parquet paths
        + partition-ownership filters, no temp objects). Any session sharing
        the catalog reads ``db.tbl``; with a Hive metastore configured the
        view also survives JVM restarts. Delta's saveAsTable is not
        available here (no Delta jars), so the view IS the catalog entry —
        data stays in the versioned LakeTable, and re-registration after
        each commit pins the view to the new manifest version."""
        loc = self.output.silverpath
        if loc.kind != "table":
            return
        parts = loc.value.split(".")
        db = parts[0] if len(parts) > 1 else "default"
        tbl = parts[-1]
        # backtick-quote: catalog names may carry non-identifier chars
        # (e.g. 'sales-mart.orders') and this runs post-commit — a parse
        # failure here must not be reachable via config
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
        self.spark.sql(
            f"CREATE OR REPLACE VIEW `{db}`.`{tbl}` AS {self.silver_table().to_view_sql()}"
        )

    def is_first_run(self) -> bool:
        """Only a cleanly-absent table counts as first run; a present-but-
        unreadable manifest re-raises (ProcessStrategy.scala:44-65 — data
        safety: never accidentally divert to a full overwrite)."""
        table = self.silver_table()
        try:
            return not table.exists()
        except Exception as exc:  # corrupt manifest etc.
            raise DatalakeException(
                f"cannot determine first-run state for {table.path}: {exc}"
            ) from exc

    # ------------------------------------------------------------ process
    def process(self, strategy: str | None = None) -> ProcessingSummary:
        strategy = (strategy or self.entity.process_strategy).lower()
        if strategy == "delta":
            strategy = "merge"
        started = time.time()
        if self.log_sink:
            self.log_sink.log(
                "Processing started",
                run_id=f"{self.entity.id}",
                data={"entity": self.entity.to_json(), "slice": self.slice_file},
            )
        try:
            if strategy == "full":
                summary = self._process_full()
            elif strategy == "merge":
                summary = self._process_merge()
            elif strategy == "historic":
                summary = self._process_historic()
            else:
                raise DatalakeException(f"unknown strategy: {strategy}")
            summary.duration_ms = (time.time() - started) * 1000
            self._write_watermarks()
            self._maybe_auto_optimize()
            self._gc_orphans()
            self.register_silver_in_catalog()
            if self.log_sink:
                self.log_sink.log_summary(summary)
            return summary
        finally:
            if self._cached_source is not None:
                self._cached_source.unpersist()
            if self.log_sink:
                self.log_sink.flush()

    # Default auto-compaction threshold for UNPARTITIONED entities: kicks in
    # once incremental runs have stacked this many live segments. 32 keeps
    # read-side file listing and version fan-out bounded while compacting
    # rarely enough (once per ~32 runs) that its full-rewrite cost amortizes
    # to ~3% of steady-state ingest work.
    AUTO_OPTIMIZE_DEFAULT = 32
    # Segments below this many rows are "small" for auto-compaction unless
    # ``maintenance.compact_small_rows`` overrides it.
    COMPACT_SMALL_ROWS = 50_000

    def _maybe_auto_optimize(self) -> None:
        """Table maintenance inside the ingestion loop: when repeated
        incremental runs have accumulated more than
        ``maintenance.auto_optimize`` segments (entity setting or run
        option), compact them (and vacuum) so read-side file listing and
        row-group sizes stay healthy without a separate maintenance job.

        ON BY DEFAULT for unpartitioned entities (threshold
        ``AUTO_OPTIMIZE_DEFAULT``; set the option/setting to 0 to disable)
        — a long-running incremental entity self-compacts without operator
        action. Partitioned entities stay opt-in: ``optimize()`` rewrites
        the WHOLE table, which for a large partitioned entity is exactly
        the cost partition-pruned merges exist to avoid. Note the
        compaction's ``vacuum()`` drops older versions — time travel for
        the entity resets at each auto-compaction."""
        settings = self.entity.merged_settings()
        threshold = self.options.get(
            "maintenance.auto_optimize", settings.get("maintenance.auto_optimize")
        )
        if threshold is None and not self.entity.partition_columns:
            threshold = self.AUTO_OPTIMIZE_DEFAULT
        if not threshold:
            return
        table = self.silver_table()
        mf = table.latest_manifest()
        if mf is None or len(mf.segments) <= int(threshold):
            return
        cluster = [c for c in (settings.get("maintenance.cluster_by") or [])]
        logger.info(
            "auto-optimize %s: %d segments > %s", self.entity.destination,
            len(mf.segments), threshold,
        )
        retain = int(
            self.options.get(
                "maintenance.vacuum_retain", settings.get("maintenance.vacuum_retain", 1)
            )
        )
        # Clustering needs the full rewrite; otherwise fold ONLY the
        # small-segment tail (incremental compaction — at scale a full
        # optimize to fold micro-batch segments would rewrite the whole
        # table). No vacuum when nothing was folded.
        if cluster:
            table.optimize(
                cluster_by=cluster,
                # 2+ cluster columns: maintenance.zorder (default true)
                # interleaves them so file stats prune on every dimension;
                # a single column keeps the strictly-better range sort
                zorder=len(cluster) >= 2
                and bool(
                    self.options.get(
                        "maintenance.zorder", settings.get("maintenance.zorder", True)
                    )
                ),
            )
            table.vacuum(retain_last=retain)
        else:
            folded = table.compact_small_segments(
                small_rows=int(
                    self.options.get(
                        "maintenance.compact_small_rows",
                        settings.get(
                            "maintenance.compact_small_rows", self.COMPACT_SMALL_ROWS
                        ),
                    )
                )
            )
            if folded:
                logger.info(
                    "auto-optimize %s: folded %d small segments",
                    self.entity.destination, len(folded),
                )
                table.vacuum(retain_last=retain)

    def _gc_orphans(self) -> None:
        """Maintenance sweep for crash leftovers: a prior writer that died
        between segment write and manifest commit leaves an orphaned
        ``data/v*`` dir no manifest references. Swept after every
        successful run; the age guard (``maintenance.gc_orphans_age``
        seconds, default 1h, negative disables) keeps the sweep from
        racing a concurrent in-flight writer. No-op cost is one
        control-plane listdir (LakeTable.gc_orphans)."""
        settings = self.entity.merged_settings()
        age = float(
            self.options.get(
                "maintenance.gc_orphans_age", settings.get("maintenance.gc_orphans_age", 3600.0)
            )
        )
        if age < 0:
            return
        try:
            removed = self.silver_table().gc_orphans(older_than_seconds=age)
        except Exception as exc:  # pragma: no cover - best-effort maintenance
            logger.warning("orphan GC for %s failed: %s", self.entity.destination, exc)
            return
        if removed:
            logger.info(
                "orphan GC for %s reclaimed %d crash-leftover segment dirs: %s",
                self.entity.destination, len(removed), removed,
            )

    def _write_watermarks(self) -> None:
        # never clobber a stored bookmark with null (empty slice)
        values = {c: tv for c, tv in self._new_watermarks.items() if tv[1] is not None}
        if values and self.watermark_store:
            self.watermark_store.write(self.entity.id, values)
        elif values:
            logger.warning(
                "no root_folder configured; watermark values %s not persisted",
                sorted(values),
            )

    # ------------------------------------------------------------ strategies
    def _process_full(self, historic: bool = False) -> ProcessingSummary:
        source = self.get_source(historic=historic)
        n = self._slice_count  # from the fused bookkeeping agg — no extra job
        table = self.silver_table()
        table.overwrite(
            source,
            dynamic=table.exists() and bool(self.entity.partition_columns),
            metrics={"records_in_slice": n},
        )
        return ProcessingSummary(
            entity_id=self.entity.id,
            destination=self.entity.destination,
            strategy="full",
            records_in_slice=n,
            inserted=n,
            touched=n,
            write_path="rewrite",
            rows_written=n,
        )

    def _merge_like(self, historic: bool) -> ProcessingSummary:
        source = self.get_source(historic=historic)
        table = self.silver_table()
        # the manifest this run plans from: the target is read at its
        # version and the commit takes the next one (``base=mf``), so a
        # writer that commits in between fails this run's compare-and-swap
        # instead of having its rows replaced by a state computed without
        # them
        mf = table.latest_manifest()
        if mf is None:
            raise FileNotFoundError(f"silver table does not exist: {table.path}")
        # A table of the retired PK-hash bucket layout (its segments own
        # bucket values although the entity is unpartitioned;
        # lake_table.Manifest.bucketing) takes the rewrite path on its first
        # run here, which commits it plain.
        legacy = not self.entity.partition_columns and any(
            seg.partitions is not None for seg in mf.segments
        )
        # Delete inference must see every target row an unpartitioned
        # table holds (a slice-missing row can live in any segment), the
        # same trade Delta makes: whenNotMatchedBySource scans all files.
        # Partitioned entities keep pruning because the window itself is
        # partition-scoped (ProcessStrategy.scala:67-153). The window
        # predicate resolves on the target side, so its columns are
        # validated against the target schema (additive bronze drift must
        # skip the new column, not crash the merge).
        # A partitioned target is read pruned to the slice's partitions by
        # the segment and file stats of the partition columns (a superset;
        # the row filter below is exact).
        target = table.read(version=mf.version, prune_spec=self._partition_prune)
        window = self.delete_window(target=target) if self.delete_missing else None
        if self._slice_count == 0 and window is None and not legacy:
            # empty slice + no delete inference: the post-merge state is the
            # current state — skip the read-join-rewrite entirely
            return ProcessingSummary(
                entity_id=self.entity.id,
                destination=self.entity.destination,
                strategy="historic" if historic else "merge",
            )
        drift = schema_compare(source, target)
        evolved: list[str] = []
        if drift["added"] and self.schema_evolution_additive:
            evolved = list(drift["added"])
            logger.info(
                "schema evolution for %s: adding columns %s to silver "
                "(existing rows read NULL)", self.entity.destination, evolved,
            )
        if (drift["added"] and not evolved) or drift["removed"]:
            logger.warning(
                "schema drift for %s: added=%s removed=%s",
                self.entity.destination,
                drift["added"],
                drift["removed"],
            )
        # pruning: only read/rewrite partitions present in the slice — at
        # 100 TB this is what keeps an incremental merge from rewriting the
        # whole table
        pvs = self._partition_values
        target_pruned = (
            target.where(partition_filter(pvs, schema=target.schema)) if pvs else target
        )
        fn = S.scd2_state if historic else S.merge_state
        state = fn(
            target_pruned,
            source,
            self.pk_name,
            prefix=self.prefix,
            processing_time=self.processing_time,
            delete_window=window,
            delete_missing=self.delete_missing,
            with_action_column=True,
            extra_columns=evolved,
        )
        # Per-action counts are collected DURING the write via df.observe —
        # the merged state is computed exactly once and never cached. (The
        # reference reads Delta's merge operationMetrics, Merge.scala:124-127;
        # this is the same no-second-pass idea for a plain writer, and at
        # 100 TB it avoids materializing the post-merge state.)
        action_names = (
            ["new_version", "insert", "unchanged", "delete_close"]
            if historic
            else ["update", "touch", "soft_delete", "insert", "infer_delete", "skip_delete"]
        )
        obs = Observation()
        state = state.observe(
            obs,
            *[
                F.sum((F.col("__action") == a).cast("long")).alias(a)
                for a in action_names
            ],
            # rows actually landing in the table (a rewrite's rows_written)
            F.sum((F.col("__action") != "skip_delete").cast("long")).alias("__total_rows"),
        )
        # skip_delete rows (source deleted=true matching no target row) exist
        # only so the observe can count them like the reference does
        # (Merge.scala:35,92,132); they never land in the table.
        op = "historic" if historic else "merge"
        path = "rewrite" if legacy else self._write_path(table, mf, pvs or None)
        if path == "patch":
            # Merge-on-read: write ONLY the changed/inserted rows; the
            # passthrough rows ("keep" / "unchanged" / "historical") stay in
            # their segments and the patch's key projection masks the
            # superseded versions (lake_table.merge_patch). A merge version
            # is keyed by PK; an SCD2 version by (PK, ValidFrom) — the
            # closed row keeps its ValidFrom, so the composite key masks
            # exactly the old open version. Inserts and new versions mask
            # nothing (flag false keeps the DV exact, and an SCD2 history
            # whose runs share one processing time cannot mask a sibling
            # version by accident).
            if historic:
                patch_actions = ["close", "delete_close", "new_version", "insert"]
                mask_actions = ["close", "delete_close"]
                keys = [self.pk_name, f"{self.prefix}ValidFrom"]
            else:
                patch_actions = ["update", "touch", "soft_delete", "insert", "infer_delete"]
                mask_actions = ["update", "touch", "soft_delete", "infer_delete"]
                keys = [self.pk_name]
            patch = (
                state.where(F.col("__action").isin(patch_actions))
                .withColumn(MASK_COL, F.col("__action").isin(mask_actions))
                .drop("__action")
            )
            rows_written = table.merge_patch(
                patch,
                keys=keys,
                mask_col=MASK_COL,
                operation=op,
                metrics_fn=lambda: {
                    k: int(v or 0) for k, v in obs.get.items() if not k.startswith("__")
                },
                base=mf,
            )
        else:
            final = state.where(F.col("__action") != "skip_delete").drop("__action")
            if pvs:
                table.replace_partitions(final, pvs, operation=op, base=mf)
            else:
                table.overwrite(final, operation=op, base=mf)
            rows_written = int(obs.get.get("__total_rows") or 0)
        counts = {k: (v or 0) for k, v in obs.get.items()}
        written = {"write_path": path, "rows_written": rows_written}
        # records_in_slice is fully determined by the action counts —
        # no extra count() job over the source.
        if historic:
            n = (
                counts.get("new_version", 0)
                + counts.get("insert", 0)
                + counts.get("unchanged", 0)
            )
            return ProcessingSummary(
                entity_id=self.entity.id,
                destination=self.entity.destination,
                strategy="historic",
                records_in_slice=n,
                updated=counts.get("new_version", 0),
                unchanged=counts.get("unchanged", 0),
                inserted=n - counts.get("new_version", 0) - counts.get("unchanged", 0),
                deleted=counts.get("delete_close", 0),
                inferred_deletes=counts.get("delete_close", 0),
                touched=n,
                **written,
            )
        # deleted = matched soft-deletes + unmatched-deleted source rows;
        # both count toward records_in_slice (Merge.scala:35,92,132)
        soft = counts.get("soft_delete", 0) + counts.get("skip_delete", 0)
        inserted = counts.get("insert", 0)
        n = counts.get("update", 0) + counts.get("touch", 0) + soft + inserted
        # identity: inserted + updated + deleted == records_in_slice
        # (PROCESSING_STRATEGIES.md:124-140); inferred deletes are outside
        # the slice so they are reported separately.
        return ProcessingSummary(
            entity_id=self.entity.id,
            destination=self.entity.destination,
            strategy="merge",
            records_in_slice=n,
            inserted=inserted,
            updated=n - inserted - soft,
            deleted=soft,
            inferred_deletes=counts.get("infer_delete", 0),
            touched=n,
            **written,
        )

    # A merge/SCD2 run with no write_mode writes a patch while the live
    # patch rows of the partitions it touches (or of the whole unpartitioned
    # table), plus the slice, stay
    # under this share of the rows a rewrite of that set would copy; past
    # it, the run rewrites the set, which folds those patches. Cost model:
    # a rewrite reads the set's R rows and writes them again; a patch writes
    # ~slice rows but leaves them for every later read of the set (merge
    # reads and user scans) to union and mask. At 1/2 a read of a patched
    # set touches at most 1.5x its rows, and a set is rewritten at most once
    # per R / (2 x slice) runs: a 5% slice (2k rows over 40k) folds every
    # ~10th run, so a run writes ~0.15 R rows on average instead of R. A
    # bound on read amplification, not fitted to a table size or workload.
    PATCH_FRACTION = 0.5

    def _write_path(self, table, mf, touched: list[dict] | None) -> str:
        """"patch" or "rewrite" for this run's commit over ``touched`` (the
        partition values it would rewrite; None = the whole table),
        from numbers the run already holds: the slice's row count from the
        bookkeeping aggregate and the manifest's recorded segment rows. No
        Spark job. A segment owning part of the set counts the owned share
        of its rows. A backend without ``merge_patch``, or a segment of
        unknown size, always rewrites (the rewrite records the size)."""
        if self.write_mode is not None:
            return "patch" if self.write_mode == "mor" else "rewrite"
        if not hasattr(table, "merge_patch"):
            return "rewrite"
        keys = None if touched is None else {tuple(sorted(pv.items())) for pv in touched}
        rows = {False: 0.0, True: 0.0}  # base rows, live patch rows
        for seg in mf.segments:
            if seg.rows is None:
                return "rewrite"
            share = 1.0
            if keys is not None and seg.partitions:
                hit = sum(tuple(sorted(pv.items())) in keys for pv in seg.partitions)
                share = hit / len(seg.partitions)
            rows[seg.patch] += seg.rows * share
        if rows[True] + self._slice_count < self.PATCH_FRACTION * rows[False]:
            return "patch"
        return "rewrite"

    def _process_merge(self) -> ProcessingSummary:
        if self.is_first_run():
            logger.info("first run for %s -> full load", self.entity.destination)
            return self._process_full()
        return self._merge_like(historic=False)

    def _process_historic(self) -> ProcessingSummary:
        if self.is_first_run():
            logger.info("first run for %s -> full load (historic)", self.entity.destination)
            return self._process_full(historic=True)
        return self._merge_like(historic=True)
