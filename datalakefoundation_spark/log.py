"""Structured log subsystem: level config, audit gate, table/parquet appenders.

Reference behavior re-expressed Python-side (the reference builds this on
Log4j2 — Log4jConfigurator.scala:42-117, TableAppender.scala:104-155,
ParquetAppender.scala:70-117, DatalakeLogManager.scala:13-86):

* ``environment.log_level`` gates ordinary events (unknown level -> WARN,
  Log4jConfigurator.parseLogLevel); AUDIT events (ProcessingSummary) always
  pass regardless of the configured level — the Log4j composite
  MarkerFilter(AUDIT)+ThresholdFilter pair becomes an explicit audit flag.
* ``environment.log_appender_type``: "table" appends batches to a LakeTable
  registered in the session catalog under ``environment.log_output``
  (default ``default.dlf_logs``); anything else appends parquet files under
  a path (default ``<root>/system/log``). Both share the reference's
  6-column schema: timestamp, level, message, data, data_type, run_id.
  Where the runtime supports Spark 4 VARIANT (probed once per session —
  ``variant_supported``), the table's ``data`` column surfaces as VARIANT
  exactly like the reference's (TableAppender.scala:104-115): JSON payloads
  parse structurally, stacktraces become variant strings. Engines without
  the type get the documented JSON-string fallback.
* A session ``run_id`` (ThreadContext analog) stamps every row; ``with_data``
  scopes a structured payload to a block; exceptions log their stacktrace
  with data_type='stacktrace' (DatalakeLogManager.logException).
* Appenders buffer and flush as one batch per threshold (async-appender
  analog: the flush is a driver-side pyarrow write off the query path —
  log rows are KB-scale control-plane metadata, a Spark job per flush would
  add a scheduler round-trip to every run).
"""

from __future__ import annotations

import contextlib
import contextvars
import datetime as _dt
import json
import threading
import traceback
import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession

from datalakefoundation_spark.tables.lake_table import PARQUET_CODEC, LakeTable

LEVELS = {
    "TRACE": 5, "DEBUG": 10, "INFO": 20, "WARN": 30,
    "ERROR": 40, "FATAL": 50, "OFF": 1000,
}

_VARIANT_SUPPORT: dict[int, bool] = {}


def variant_supported(spark: SparkSession) -> bool:
    """Capability probe, once per session: can this runtime parse JSON into
    a VARIANT column (Spark 4 with the variant expression set)? Gates the
    log table's ``data`` column type — VARIANT where available (reference
    TableAppender.scala:104-115), JSON string otherwise."""
    key = id(spark)
    if key not in _VARIANT_SUPPORT:
        try:
            t = spark.sql("select parse_json('{\"a\":1}') v").schema["v"].dataType
            _VARIANT_SUPPORT[key] = t.typeName().lower().startswith("variant")
        except Exception:
            _VARIANT_SUPPORT[key] = False
    return _VARIANT_SUPPORT[key]


def parse_log_level(level: str) -> int:
    """Unknown strings fall back to WARN (Log4jConfigurator.scala:197-206)."""
    return LEVELS.get((level or "").upper(), LEVELS["WARN"])


@dataclass
class LogEntry:
    timestamp: _dt.datetime
    level: str
    message: str
    data: str | None
    data_type: str | None
    run_id: str | None


def _entries_to_arrow(entries: list[LogEntry]):
    import pyarrow as pa

    return pa.table(
        {
            "timestamp": pa.array([e.timestamp for e in entries], pa.timestamp("us")),
            "level": pa.array([e.level for e in entries], pa.string()),
            "message": pa.array([e.message for e in entries], pa.string()),
            "data": pa.array([e.data for e in entries], pa.string()),
            "data_type": pa.array([e.data_type for e in entries], pa.string()),
            "run_id": pa.array([e.run_id for e in entries], pa.string()),
        }
    )


class TableLogSink:
    """LakeTable-backed appender (TableAppender.scala): batches append to a
    versioned table registered in the session catalog under ``table_name``,
    created on first use (ensureTableExists). CAS commits make concurrent
    entity runs safe."""

    def __init__(
        self,
        spark: SparkSession,
        root_folder: str,
        table_name: str,
        create_if_not_exists: bool = True,
        variant: bool | None = None,
    ) -> None:
        self.spark = spark
        self.table_name = table_name
        parts = table_name.split(".")
        self.db = parts[0] if len(parts) > 1 else "default"
        self.tbl = parts[-1]
        # ``data`` surfaces as VARIANT when the runtime supports it
        # (reference TableAppender.scala:104-115): JSON payloads parse to
        # structured variant, non-JSON payloads (stacktraces) become
        # variant STRINGS via the cast — nothing is lost to a failed
        # parse. Physical storage stays a JSON string column either way
        # (portable parquet); the typed view is the query surface, so
        # ``data:field::int`` path expressions work wherever the engine
        # can evaluate them. ``variant=None`` probes the session.
        self.variant = variant_supported(spark) if variant is None else variant
        path = f"{root_folder}/_catalog/{self.db}/{self.tbl}"
        self.table = LakeTable(spark, path)
        if create_if_not_exists and not self.table.exists():
            self.table.append_arrow(_entries_to_arrow([]), label="log")
            self._register()

    def _register(self) -> None:
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.db}")
        base = self.table.to_view_sql()
        if self.variant:
            select = (
                "SELECT timestamp, level, message, "
                "coalesce(try_parse_json(data), cast(data as variant)) AS data, "
                f"data_type, run_id FROM ({base})"
            )
        else:
            select = base
        self.spark.sql(
            f"CREATE OR REPLACE VIEW {self.db}.{self.tbl} AS {select}"
        )

    def write_batch(self, entries: list[LogEntry]) -> None:
        if not entries:
            return
        self.table.append_arrow(_entries_to_arrow(entries), label="log")
        self._register()  # view tracks the new manifest version


class ParquetLogSink:
    """Parquet-directory appender (ParquetAppender.scala): one file per
    flushed batch, Spark-readable as a plain parquet dataset."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        from datalakefoundation_spark.tables.fs import fs_for_path

        self.path = path
        self.fs = fs_for_path(spark, path)

    def write_batch(self, entries: list[LogEntry]) -> None:
        if not entries:
            return
        import io

        import pyarrow.parquet as pq

        buf = io.BytesIO()
        pq.write_table(_entries_to_arrow(entries), buf, compression=PARQUET_CODEC)
        self.fs.put_bytes(f"{self.path}/part-{uuid.uuid4().hex}.parquet", buf.getvalue())


_ctx_data: contextvars.ContextVar[tuple[str, str | None] | None] = contextvars.ContextVar(
    "dlf_log_data", default=None
)


class DatalakeLogManager:
    """Per-environment logging facade (DatalakeLogManager.scala +
    Log4jConfigurator.scala collapsed into one object — the Log4j plugin
    machinery has no Python analog, the observable behavior does)."""

    _instances: dict[tuple, "DatalakeLogManager"] = {}
    _lock = threading.Lock()

    def __init__(self, spark: SparkSession, environment, threshold: int = 10) -> None:
        self.spark = spark
        self.environment = environment
        self.threshold = threshold
        self.level = parse_log_level(getattr(environment, "log_level", "WARN"))
        self.run_id = uuid.uuid4().hex
        appender = getattr(environment, "log_appender_type", "parquet").lower()
        output = getattr(environment, "log_output", "") or ""
        root = getattr(environment, "root_folder", "") or "."
        if appender == "table":
            self.sink = TableLogSink(spark, root, output or "default.dlf_logs")
        else:
            self.sink = ParquetLogSink(spark, output or f"{root}/system/log")
        self._buffer: list[LogEntry] = []
        self._buf_lock = threading.Lock()

    @classmethod
    def for_environment(
        cls, spark: SparkSession, environment, threshold: int = 10
    ) -> "DatalakeLogManager":
        # the level and flush threshold are part of the identity — two
        # environments differing only in log_level must not share a manager
        # (the cached one would keep gating events at the old level)
        key = (
            id(spark),
            getattr(environment, "root_folder", ""),
            getattr(environment, "log_appender_type", "parquet"),
            getattr(environment, "log_output", ""),
            getattr(environment, "log_level", "WARN"),
            threshold,
        )
        with cls._lock:
            mgr = cls._instances.get(key)
            if mgr is None:
                mgr = cls(spark, environment, threshold)
                cls._instances[key] = mgr
            return mgr

    @classmethod
    def shutdown_all(cls) -> None:
        with cls._lock:
            for mgr in cls._instances.values():
                mgr.flush()
            cls._instances.clear()

    # ------------------------------------------------------------ logging
    def log(
        self,
        message: str,
        level: str = "INFO",
        run_id: str = "",
        data: dict | str | None = None,
        data_type: str | None = None,
        audit: bool = False,
        exc: BaseException | None = None,
    ) -> None:
        """Audit events bypass the threshold (MarkerFilter AUDIT ->
        ACCEPT); everything else needs level >= the configured gate."""
        lv = parse_log_level(level) if level else LEVELS["INFO"]
        if not audit and lv < self.level:
            return
        if exc is not None:
            data = "".join(traceback.format_exception(type(exc), exc, exc.__traceback__))
            data_type = "stacktrace"
        elif _ctx_data.get() is not None and data is None:
            data, data_type = _ctx_data.get()
        if isinstance(data, dict):
            data = json.dumps(data)
        entry = LogEntry(
            timestamp=_dt.datetime.now(),
            level=level.upper(),
            message=message,
            data=data,
            data_type=data_type,
            run_id=run_id or self.run_id,
        )
        with self._buf_lock:
            self._buffer.append(entry)
            should_flush = len(self._buffer) >= self.threshold
        if should_flush:
            self.flush()

    @contextlib.contextmanager
    def with_data(self, data: dict | str, data_type: str | None = None):
        """Scope a structured payload to a block (ThreadContext 'data'
        propagation, DatalakeLogManager.scala:56-67) — contextvars make it
        safe under orchestrate's thread pool."""
        if isinstance(data, dict):
            data = json.dumps(data)
        token = _ctx_data.set((data, data_type))
        try:
            yield
        finally:
            _ctx_data.reset(token)

    def log_summary(self, summary, message: str = "Processing complete") -> None:
        from dataclasses import asdict

        self.log(
            message,
            level="INFO",
            run_id=getattr(summary, "run_id", ""),
            data=asdict(summary),
            data_type="ProcessingSummary",
            audit=True,
        )

    def log_exception(self, level: str, message: str, exc: BaseException) -> None:
        self.log(message, level=level, exc=exc)

    def flush(self) -> None:
        with self._buf_lock:
            batch, self._buffer = self._buffer, []
        if batch:
            self.sink.write_batch(batch)
