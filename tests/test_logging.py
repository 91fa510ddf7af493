"""Log subsystem tests mirroring the reference's TableAppenderSpec /
LogLevelConfigTest / DefaultLogLevelTest shapes."""

import json

import pytest

from datalakefoundation_spark.log import (
    DatalakeLogManager,
    LogEntry,
    TableLogSink,
    parse_log_level,
)
from datalakefoundation_spark.metadata.models import Environment


def _env(tmp_path, **kw):
    return Environment(name="TEST", root_folder=str(tmp_path), **kw)


def _mgr(spark, tmp_path, **kw):
    # bypass the for_environment cache: each test wants a fresh manager
    return DatalakeLogManager(spark, _env(tmp_path, **kw))


def _payload(v):
    """The ``data`` column value -> python object across BOTH view types:
    VariantVal (runtime with VARIANT support — the reference's column type)
    or the JSON-string fallback. Variant strings / JSON docs / plain
    strings all land on the natural python value."""
    if v is None:
        return None
    if hasattr(v, "toJson"):
        return json.loads(v.toJson())
    try:
        return json.loads(v)
    except json.JSONDecodeError:
        return v


def test_parse_log_level_fallback():
    assert parse_log_level("INFO") == 20
    assert parse_log_level("fatal") == 50
    # unknown -> WARN (Log4jConfigurator.scala:197-206)
    assert parse_log_level("VERBOSE") == 30
    assert parse_log_level("") == 30


def test_table_appender_buffers_and_writes(spark, tmp_path):
    """TableAppenderSpec 'buffer and write logs correctly to table'."""
    mgr = _mgr(
        spark, tmp_path, log_appender_type="table",
        log_output="default.test_dlf_logs_a", log_level="INFO",
    )
    mgr.log("Test message 1", level="INFO")
    mgr.log("Test message 2", level="WARN", data={"records": 100})
    mgr.flush()
    logs = spark.table("default.test_dlf_logs_a")
    assert logs.count() == 2
    rows = logs.collect()
    assert {r["level"] for r in rows} == {"INFO", "WARN"}
    assert {r["message"] for r in rows} == {"Test message 1", "Test message 2"}
    payload = [r["data"] for r in rows if r["data"] is not None]
    assert _payload(payload[0]) == {"records": 100}
    # every row carries the session run_id (ThreadContext analog)
    assert all(r["run_id"] == mgr.run_id for r in rows)


def test_table_appender_creates_table(spark, tmp_path):
    """TableAppenderSpec 'create table if it doesn't exist'."""
    assert not spark.catalog.tableExists("default.test_dlf_logs_b")
    TableLogSink(spark, str(tmp_path), "default.test_dlf_logs_b")
    assert spark.catalog.tableExists("default.test_dlf_logs_b")
    cols = set(spark.table("default.test_dlf_logs_b").columns)
    assert {"timestamp", "level", "message", "data", "data_type", "run_id"} <= cols
    assert spark.table("default.test_dlf_logs_b").count() == 0


def test_log_level_gates_ordinary_events(spark, tmp_path):
    """LogLevelConfigTest: WARN config drops INFO events but keeps WARN."""
    mgr = _mgr(
        spark, tmp_path, log_appender_type="table",
        log_output="default.test_dlf_logs_c", log_level="WARN",
    )
    mgr.log("info msg", level="INFO")
    mgr.log("warn msg", level="WARN")
    mgr.flush()
    rows = spark.table("default.test_dlf_logs_c").collect()
    assert [r["message"] for r in rows] == ["warn msg"]


def test_summary_written_even_at_warn_level(spark, tmp_path):
    """LogLevelConfigTest 'Summary should be written when log level is WARN':
    AUDIT events bypass the threshold filter."""
    from datalakefoundation_spark.logging_ import ProcessingSummary

    mgr = _mgr(
        spark, tmp_path, log_appender_type="table",
        log_output="default.test_dlf_logs_d", log_level="WARN",
    )
    summary = ProcessingSummary(
        entity_id=1, destination="person", strategy="merge",
        records_in_slice=42, inserted=42, write_path="patch", rows_written=42,
    )
    mgr.log_summary(summary)
    mgr.flush()
    rows = spark.table("default.test_dlf_logs_d").collect()
    assert len(rows) == 1
    assert rows[0]["data_type"] == "ProcessingSummary"
    data = _payload(rows[0]["data"])
    assert data["records_in_slice"] == 42
    assert (data["write_path"], data["rows_written"]) == ("patch", 42)
    assert rows[0]["run_id"] == summary.run_id


def test_exception_logs_stacktrace(spark, tmp_path):
    mgr = _mgr(
        spark, tmp_path, log_appender_type="table",
        log_output="default.test_dlf_logs_e", log_level="ERROR",
    )
    try:
        raise ValueError("boom in merge")
    except ValueError as exc:
        mgr.log_exception("ERROR", "Processing failed", exc)
    mgr.flush()
    row = spark.table("default.test_dlf_logs_e").head()
    assert row["data_type"] == "stacktrace"
    # non-JSON payloads survive the variant view as variant STRINGS
    assert "ValueError: boom in merge" in _payload(row["data"])


def test_with_data_scopes_payload(spark, tmp_path):
    """ThreadContext 'data' propagation (DatalakeLogManager.scala:56-67)."""
    mgr = _mgr(
        spark, tmp_path, log_appender_type="table",
        log_output="default.test_dlf_logs_f", log_level="INFO",
    )
    with mgr.with_data({"slice": "s1.parquet"}, "SliceInfo"):
        mgr.log("inside", level="INFO")
    mgr.log("outside", level="INFO")
    mgr.flush()
    rows = {r["message"]: r for r in spark.table("default.test_dlf_logs_f").collect()}
    assert _payload(rows["inside"]["data"]) == {"slice": "s1.parquet"}
    assert rows["inside"]["data_type"] == "SliceInfo"
    assert rows["outside"]["data"] is None


def test_table_sink_variant_data_column(spark, tmp_path):
    """K7: on a runtime with VARIANT support the log table's ``data``
    column IS variant (reference TableAppender.scala:104-115) and path
    expressions work; skipped where the engine lacks the type."""
    from datalakefoundation_spark.log import variant_supported

    if not variant_supported(spark):
        pytest.skip("runtime has no VARIANT type — JSON-string fallback active")
    mgr = _mgr(
        spark, tmp_path, log_appender_type="table",
        log_output="default.test_dlf_logs_v", log_level="INFO",
    )
    mgr.log("variant row", level="INFO", data={"records": 7, "nested": {"ok": True}})
    mgr.flush()
    dt = spark.table("default.test_dlf_logs_v").schema["data"].dataType
    assert dt.typeName().lower().startswith("variant")
    got = spark.sql(
        "select data:records::int AS records, data:nested.ok::boolean AS ok "
        "from default.test_dlf_logs_v where data is not null"
    ).first()
    assert (got["records"], got["ok"]) == (7, True)


def test_table_sink_json_string_fallback(spark, tmp_path):
    """Forced variant=False: the documented JSON-string fallback — ``data``
    stays a string column and readers use json parsing."""
    sink = TableLogSink(
        spark, str(tmp_path), "default.test_dlf_logs_w", variant=False
    )
    import datetime as dt

    sink.write_batch([
        LogEntry(dt.datetime.now(), "INFO", "m", json.dumps({"a": 1}), None, "r1")
    ])
    schema = spark.table("default.test_dlf_logs_w").schema
    assert schema["data"].dataType.typeName() == "string"
    row = spark.table("default.test_dlf_logs_w").head()
    assert json.loads(row["data"]) == {"a": 1}


def test_threshold_flushes_batch(spark, tmp_path):
    mgr = DatalakeLogManager(
        spark,
        _env(tmp_path, log_appender_type="table",
             log_output="default.test_dlf_logs_g", log_level="INFO"),
        threshold=2,
    )
    mgr.log("m1")
    assert spark.table("default.test_dlf_logs_g").count() == 0  # buffered
    mgr.log("m2")  # hits threshold -> auto flush
    assert spark.table("default.test_dlf_logs_g").count() == 2


def test_processing_writes_summary_to_parquet_log(spark, tmp_path):
    """End-to-end: a Processing run under the default parquet appender
    leaves a ProcessingSummary audit row under <root>/system/log."""
    from tests.helpers import T0, make_metadata, rows_v1, write_slice

    md = make_metadata(str(tmp_path / "root"))
    write_slice(spark, md, "s1.parquet", rows_v1(5))
    from datalakefoundation_spark.processing import Processing

    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process()
    logs = spark.read.parquet(f"{tmp_path}/root/system/log")
    summaries = logs.where(logs["data_type"] == "ProcessingSummary").collect()
    assert len(summaries) == 1
    assert json.loads(summaries[0]["data"])["records_in_slice"] == 5
