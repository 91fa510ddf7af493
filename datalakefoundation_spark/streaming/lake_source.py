"""``lake_stream`` — a Spark Python Data Source (Spark 4 DataSource API)
that streams a LakeTable's COMMIT LOG: each micro-batch emits the rows of
the segments ADDED by newly committed versions, tagged with
``_commit_version`` and ``_commit_operation``.

Semantics (same contract as Delta's streaming source over a Delta table):

* append / merge-on-read patch commits -> emitted rows are EXACTLY the
  new/changed rows (``write_mode=mor`` upstream makes this a precise
  row-level change feed with no diffing at all — the patch segments are
  the deltas by construction);
* copy-on-write merge/overwrite commits rewrite whole partitions or tables,
  so their new segments replay unchanged rows too (at-least-once per key,
  Delta's ``ignoreChanges`` behavior — downstream dedup by PK + version);
* maintenance commits (compact / optimize) are row-preserving rewrites
  and are SKIPPED by default (``skip_maintenance=false`` to include);
* deletion-vector-only commits (``delete_keys``) add no segments and emit
  nothing — consume hard deletes from the manifest directly if needed.

Offsets are manifest version numbers — exactly-once across restarts comes
free from the checkpoint (offset ``{"version": N}`` = all commits <= N
consumed). The driver reads manifests; executors read segment parquet via
pyarrow — the table path must be visible to both (local/NFS here; an
object-store deployment swaps in a pyarrow filesystem).

Usage::

    spark.dataSource.register(LakeStreamDataSource)
    feed = (spark.readStream.format("lake_stream")
            .option("path", "/lake/silver/person").load())
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from datalakefoundation_spark.tables.lake_table import BUCKET_COL, MASK_COL

INTERNAL_COLS = (BUCKET_COL, MASK_COL)
MAINTENANCE_OPS = ("compact", "optimize")


def _manifest(path: str, version: int) -> dict:
    with open(f"{path}/_manifest/v{version:05d}.json") as fh:
        return json.load(fh)


def _latest_version(path: str) -> int | None:
    d = f"{path}/_manifest"
    if not os.path.isdir(d):
        return None
    vs = [int(f[1:6]) for f in os.listdir(d) if f.endswith(".json")]
    return max(vs) if vs else None


def _new_segment_dirs(path: str, version: int, skip_maintenance: bool) -> list[str]:
    """Segment dirs first referenced at ``version`` (vs the previous
    surviving manifest, so vacuumed history doesn't break the diff)."""
    mf = _manifest(path, version)
    if skip_maintenance and mf.get("operation") in MAINTENANCE_OPS:
        return []
    prev_dirs: set[str] = set()
    v = version - 1
    while v >= 0:
        try:
            prev_dirs = {s["dir"] for s in _manifest(path, v)["segments"]}
            break
        except FileNotFoundError:
            v -= 1
    return [s["dir"] for s in mf["segments"] if s["dir"] not in prev_dirs]


def _first_parquet(path: str, seg_dir: str) -> str | None:
    for root, _dirs, names in os.walk(f"{path}/{seg_dir}"):
        for n in sorted(names):
            if n.endswith(".parquet"):
                return os.path.join(root, n)
    return None


@dataclass
class _SegPartition(InputPartition):
    version: int
    operation: str
    abs_dir: str
    schema_json: str  # full declared output schema (StructType json)


def _read_segment_batches(part: _SegPartition):
    """pyarrow scan of one segment dir -> RecordBatches cast to the
    declared schema. Segments store partition columns as data; hive
    partitioning materializes them from the dir names of legacy hive
    segments (the retired bucket column then goes unreferenced ->
    dropped); internal columns are dropped; a column the segment predates
    reads as a typed NULL."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    target = to_arrow_schema(StructType.fromJson(json.loads(part.schema_json)))
    # default ignore_prefixes=['.', '_'] would swallow the internal
    # '__dlf_bucket=N' dirs of legacy hive segments — ignore only Spark's
    # marker files
    dataset = ds.dataset(
        part.abs_dir,
        format="parquet",
        partitioning="hive",
        ignore_prefixes=[".", "_SUCCESS", "_committed", "_started", "_temporary"],
    )
    for batch in dataset.to_batches():
        t = pa.Table.from_batches([batch])
        n = t.num_rows
        data = {}
        for f in target:
            if f.name == "_commit_version":
                data[f.name] = pa.array([part.version] * n, pa.int64())
            elif f.name == "_commit_operation":
                data[f.name] = pa.array([part.operation] * n, pa.string())
            elif f.name in t.column_names:
                data[f.name] = t.column(f.name)
            else:
                data[f.name] = pa.nulls(n, f.type)
        yield from pa.table(data).cast(target).to_batches()


class _LakeReaderBase:
    def __init__(self, schema, options) -> None:
        self.path = options["path"].rstrip("/")
        self.skip_maintenance = str(
            options.get("skip_maintenance", "true")
        ).lower() != "false"
        self.start_version = int(options.get("start_version", 0))
        self.schema_json = json.dumps(schema.jsonValue())

    def _partitions_for(self, versions) -> list[_SegPartition]:
        out = []
        for v in versions:
            try:
                mf = _manifest(self.path, v)
            except FileNotFoundError:
                # vacuumed version: its surviving rows are re-attributed to
                # the next surviving manifest's added-segment diff, so
                # skipping here loses nothing that still exists
                continue
            for seg_dir in _new_segment_dirs(self.path, v, self.skip_maintenance):
                out.append(
                    _SegPartition(
                        version=v,
                        operation=mf.get("operation", ""),
                        abs_dir=f"{self.path}/{seg_dir}",
                        schema_json=self.schema_json,
                    )
                )
        return out


class LakeStreamReader(_LakeReaderBase, DataSourceStreamReader):
    def initialOffset(self) -> dict:
        return {"version": self.start_version - 1}

    def latestOffset(self) -> dict:
        latest = _latest_version(self.path)
        return {"version": latest if latest is not None else self.start_version - 1}

    def partitions(self, start: dict, end: dict):
        versions = range(int(start["version"]) + 1, int(end["version"]) + 1)
        return self._partitions_for(versions)

    def read(self, partition):
        yield from _read_segment_batches(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint


class LakeBatchReader(_LakeReaderBase, DataSourceReader):
    """Batch form: one-shot backfill of every commit since
    ``start_version`` (inclusive) up to the current version."""

    def partitions(self):
        latest = _latest_version(self.path)
        if latest is None:
            return []
        return self._partitions_for(range(self.start_version, latest + 1))

    def read(self, partition):
        yield from _read_segment_batches(partition)


class LakeStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "lake_stream"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        import pyarrow.dataset as ds

        path = self.options["path"].rstrip("/")
        latest = _latest_version(path)
        if latest is None:
            raise FileNotFoundError(f"lake_stream: no LakeTable at {path}")
        mf = _manifest(path, latest)
        if not mf["segments"]:
            raise FileNotFoundError(f"lake_stream: table has no segments: {path}")
        # newest segment: after additive schema evolution it carries the
        # full column set; older segments' missing columns read as NULLs
        seg_dir = mf["segments"][-1]["dir"]
        if _first_parquet(path, seg_dir) is None:
            raise FileNotFoundError(
                f"lake_stream: no parquet files under {seg_dir}"
            )
        # a DATASET schema, not a file footer: segments store partition
        # columns as data, but in a legacy hive segment they live in
        # directory names — footer-only derivation would silently drop
        # them from the feed
        arrow = ds.dataset(
            f"{path}/{seg_dir}",
            format="parquet",
            partitioning="hive",
            ignore_prefixes=[".", "_SUCCESS", "_committed", "_started", "_temporary"],
        ).schema
        fields = [
            f for f in from_arrow_schema(arrow).fields if f.name not in INTERNAL_COLS
        ]
        fields.append(StructField("_commit_version", LongType()))
        fields.append(StructField("_commit_operation", StringType()))
        return StructType(fields)

    def streamReader(self, schema) -> LakeStreamReader:
        return LakeStreamReader(schema, self.options)

    def reader(self, schema) -> LakeBatchReader:
        return LakeBatchReader(schema, self.options)
