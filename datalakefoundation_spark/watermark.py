"""Watermark system table + incremental-window builder.

Reference: core/WatermarkData.scala:12-96 (system Delta table
``<root>/system/watermark`` partitioned by (entity_id, column_name), values
stored as strings with their type name), Processing.scala:123-142 (stored
lookup; the max-agg capture is part of ``Processing.get_source``'s fused
bookkeeping aggregate), ProcessStrategy.scala:86-153 (inclusive
current-vs-previous window scoping delete inference).

"Watermark" here is a *batch incremental bookmark*, not a streaming
event-time watermark (SURVEY.md §2.11).
"""

from __future__ import annotations

import datetime as _dt
import io
import time
from typing import Sequence

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalakefoundation_spark.core.expressions import evaluate_watermark_expression
from datalakefoundation_spark.metadata.models import Watermark
from datalakefoundation_spark.tables.lake_table import PARQUET_CODEC, LakeTable

WATERMARK_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.IntegerType()),
        T.StructField("column_name", T.StringType()),
        T.StructField("timestamp", T.TimestampNTZType()),
        T.StructField("source_type", T.StringType()),
        T.StructField("value", T.StringType()),  # None encodes a Reset
    ]
)


class WatermarkStore:
    """Append-only bookmark table; latest row per (entity, column) wins.

    Bookmarks are *control-plane* metadata — a handful of rows per run — so
    reads and writes go through pyarrow on the driver instead of Spark jobs
    (3 fewer job round-trips per Processing run; at 100 TB the bookmark
    table is still KB-sized). The on-disk layout is the same LakeTable
    format (manifest + parquet segments), so ``spark.read.parquet`` and
    ``LakeTable.read`` over it keep working for consumers."""

    # fold segments once a store accumulates this many: every Processing run
    # appends one tiny segment, so without compaction ``latest`` degrades to
    # O(runs) file opens
    COMPACT_THRESHOLD = 32

    def __init__(self, spark: SparkSession, root_folder: str) -> None:
        self.spark = spark
        self.path = f"{root_folder}/system/watermark".rstrip("/")
        self.table = LakeTable(spark, self.path)

    def write(self, entity_id: int, values: dict[str, tuple[str, str | None]]) -> None:
        """values: column -> (source_type, value-as-string|None)."""
        if not values:
            return
        import pyarrow as pa

        # naive-UTC stamp: latest-wins ordering compares these timestamps
        # across writers, so they must share one clock basis — a driver-local
        # naive now() would let a chronologically newer write from another
        # timezone (or across a DST fall-back) carry a SMALLER timestamp and
        # be shadowed by stale bookmarks
        now = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
        cols = list(values.keys())
        arrow = pa.table(
            {
                "entity_id": pa.array([entity_id] * len(cols), pa.int32()),
                "column_name": pa.array(cols, pa.string()),
                "timestamp": pa.array([now] * len(cols), pa.timestamp("us")),
                "source_type": pa.array([values[c][0] for c in cols], pa.string()),
                "value": pa.array([values[c][1] for c in cols], pa.string()),
            }
        )
        # CAS append (concurrent entity runs share this table) + fold
        # segments once enough accumulate so latest() stays O(1); the
        # manifest the append committed decides, no second manifest read
        mf = self.table.append_arrow(arrow, label=str(entity_id))
        if len(mf.segments) > self.COMPACT_THRESHOLD:
            self._compact()

    def _compact(self) -> None:
        """Fold all segments into one (full history preserved, file count
        back to 1) so ``latest`` stays O(1) file opens per read regardless of
        how many runs have committed. Best-effort: losing the commit race to
        a concurrent append just leaves compaction for a later run.

        After a successful commit the folded segment dirs are deleted (their
        rows live on in the compacted file), so disk usage stays bounded and
        a raw ``spark.read.parquet`` over the data dir never sees a bookmark
        twice. Like VACUUM with zero retention, a reader holding the
        pre-compaction manifest across the delete would fail and must
        re-read — acceptable for a driver-side control-plane table whose
        readers re-open the manifest on every call."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from datalakefoundation_spark.core.exceptions import ConcurrentCommitException
        from datalakefoundation_spark.tables.lake_table import (
            Manifest,
            Segment,
            spark_schema_of_arrow,
        )

        mf = self.table.latest_manifest()
        if mf is None or len(mf.segments) <= 1:
            return
        fs = self.table.fs
        tables = []
        try:
            for seg in mf.segments:  # manifest order == commit order (tie-break)
                seg_dir = f"{self.path}/{seg.dir}"
                for fname in fs.listdir(seg_dir):
                    if fname.endswith(".parquet"):
                        tables.append(pq.read_table(io.BytesIO(fs.read_bytes(f"{seg_dir}/{fname}"))))
        except FileNotFoundError:
            # a concurrent compactor already folded (and reclaimed) these
            # segments — our fold is moot, theirs carries every row
            return
        if not tables:
            # same race, seen as empty listings instead of a read error
            return
        import uuid as _uuid

        merged = pa.concat_tables(tables)
        next_v = mf.version + 1
        # writer-unique segment dir: two concurrent compactors must never
        # share a path, or the CAS loser's cleanup would delete the
        # winner's committed segment
        seg_rel = f"data/v{next_v:05d}-compact-{_uuid.uuid4().hex[:8]}"
        buf = io.BytesIO()
        pq.write_table(merged, buf, compression=PARQUET_CODEC)
        fs.put_bytes(f"{self.path}/{seg_rel}/part-00000.parquet", buf.getvalue())
        try:
            self.table._commit(
                Manifest(
                    version=next_v,
                    partition_by=[],
                    segments=[Segment(seg_rel, None)],
                    operation="compact",
                    timestamp=time.time(),
                    schema=spark_schema_of_arrow(merged.schema),
                )
            )
        except ConcurrentCommitException:
            # lost the race: drop the orphaned compacted segment and retry later
            fs.delete_tree(f"{self.path}/{seg_rel}")
            return
        for seg in mf.segments:  # folded into the compacted file — reclaim
            fs.delete_tree(f"{self.path}/{seg.dir}")

    def reset(self, entity_id: int, column_name: str, to_value: str | None = None) -> None:
        """A None-valued row clears the bookmark; a string value rewinds it to
        a specific point (both Reset overloads, WatermarkData.scala:68-96 —
        e.g. replay an incremental load from a known-good watermark)."""
        if to_value is None:
            self.write(entity_id, {column_name: ("None", None)})
        else:
            self.write(entity_id, {column_name: ("str", str(to_value))})

    def latest(self, entity_id: int) -> dict[str, str | None]:
        """Latest stored value per column for an entity. Driver-side pyarrow
        scan of the (tiny) segment files; later segments win ties.

        Retries on FileNotFoundError: a concurrent ``_compact`` deletes
        folded segment dirs right after committing the compacted manifest,
        so a reader holding the pre-compaction manifest across that delete
        must RE-READ the manifest (the contract _compact's docstring
        states; first hit for real by the 50-entity concurrent fleet probe
        at commit 4dd3b77). The rows live on in the compacted segment,
        so the retry always converges."""
        for attempt in range(5):
            mf = self.table.latest_manifest()
            if mf is None:
                return {}
            try:
                return self._scan_latest(mf, entity_id)
            except FileNotFoundError:
                time.sleep(0.02 * (attempt + 1))
        mf = self.table.latest_manifest()
        return self._scan_latest(mf, entity_id) if mf is not None else {}

    def _scan_latest(self, mf, entity_id: int) -> dict[str, str | None]:
        import pyarrow.parquet as pq

        fs = self.table.fs
        best: dict[str, tuple[_dt.datetime, str | None]] = {}
        for seg in mf.segments:  # manifest order == commit order
            seg_dir = f"{self.path}/{seg.dir}"
            names = fs.listdir(seg_dir)
            if not names and not fs.isdir(seg_dir):
                # segment reclaimed by a concurrent compaction; silently
                # skipping it would DROP its bookmarks from the answer —
                # surface the staleness so latest() re-reads the manifest
                raise FileNotFoundError(seg_dir)
            for fname in names:
                if not fname.endswith(".parquet"):
                    continue
                t = pq.read_table(io.BytesIO(fs.read_bytes(f"{seg_dir}/{fname}")))
                for row in t.to_pylist():
                    if row["entity_id"] != entity_id:
                        continue
                    c, ts = row["column_name"], row["timestamp"]
                    if c not in best or ts >= best[c][0]:
                        best[c] = (ts, row["value"])
        return {c: v for c, (_ts, v) in best.items()}


def _strip_quotes(v: str) -> str:
    v = v.strip()
    if len(v) >= 2 and v[0] == v[-1] and v[0] in "'\"":
        return v[1:-1]  # ProcessStrategy.scala:126-127
    return v


def build_watermark_values(
    watermarks: Sequence[Watermark], stored: dict[str, str | None]
) -> dict[str, str | None]:
    """Evaluate each watermark's expression against its stored last value.
    Eval failure or missing bookmark -> None -> filter skipped
    (Watermark.scala:44-53)."""
    out: dict[str, str | None] = {}
    for wm in watermarks:
        last = stored.get(wm.column_name)
        if last is None:
            out[wm.column_name] = None
            continue
        val = evaluate_watermark_expression(wm.expression, last)
        out[wm.column_name] = None if val is None else _strip_quotes(val)
    return out


def build_window_spec(
    df_schema,
    watermarks: Sequence[Watermark],
    previous: dict[str, str | None],
    current: dict[str, str | None],
) -> list[list[tuple[str, str, str, str]]] | None:
    """Interval form of ``build_window_condition`` for segment-stats data
    skipping (``lake_table.segment_may_match``): a list of groups; each
    group a list of ``(operation, column, lo, hi)`` folded left with each
    condition's and/or, groups combining with AND. Returns None exactly
    when ``build_window_condition`` would (no buildable window) — the two
    builders share their skip rules (missing column, one-sided bounds) and
    MUST stay in sync, or stats pruning would skip segments the row-level
    window still selects."""
    fields = {f.name for f in df_schema.fields}
    groups: dict[int, list[tuple[str, str, str, str]]] = {}
    for wm in watermarks:
        if wm.column_name not in fields:
            continue
        prev_v = previous.get(wm.column_name)
        cur_v = current.get(wm.column_name)
        if prev_v is None or cur_v is None:
            continue
        groups.setdefault(wm.operation_group, []).append(
            (wm.operation, wm.column_name, _strip_quotes(prev_v), _strip_quotes(cur_v))
        )
    if not groups:
        return None
    return [groups[g] for g in sorted(groups)]


def build_window_condition(
    df_schema,
    watermarks: Sequence[Watermark],
    previous: dict[str, str | None],
    current: dict[str, str | None],
    qualifier: str = "",
) -> Column | None:
    """Inclusive window ``col >= previous AND col <= current`` per watermark
    column, cast to the column's type; columns missing from the schema or
    with absent bounds are skipped (ProcessStrategy.scala:86-153).

    Groups: conditions inside an operation_group combine with each
    watermark's ``operation`` (and/or); groups combine with AND.
    ``qualifier`` prefixes column refs (e.g. "t." inside a join).
    """
    fields = {f.name: f.dataType.simpleString() for f in df_schema.fields}
    groups: dict[int, Column] = {}
    for wm in watermarks:
        if wm.column_name not in fields:
            continue  # missing-column skip (ProcessStrategy.scala:137-139)
        dtype = fields[wm.column_name]
        prev_v = previous.get(wm.column_name)
        cur_v = current.get(wm.column_name)
        # BOTH bounds must exist or the column is skipped — a one-sided
        # window on the first incremental run (no previous bookmark) would
        # cover all history and over-scope delete inference; the reference
        # early-returns on previousValues.isEmpty / futureValues.isEmpty
        # (ProcessStrategy.scala:100-112).
        if prev_v is None or cur_v is None:
            continue
        col = F.col(f"{qualifier}{wm.column_name}")
        c = (col >= F.lit(_strip_quotes(prev_v)).cast(dtype)) & (
            col <= F.lit(_strip_quotes(cur_v)).cast(dtype)
        )
        g = wm.operation_group
        if g in groups:
            groups[g] = (groups[g] | c) if wm.operation == "or" else (groups[g] & c)
        else:
            groups[g] = c
    if not groups:
        return None
    out = None
    for g in sorted(groups):
        out = groups[g] if out is None else (out & groups[g])
    return out
