"""LakeTable — a minimal write-once versioned-Parquet lakehouse table.

This environment ships no Delta/Iceberg jars, so the silver layer is backed
by this self-contained format with the same operational properties the
strategies need:

  <root>/
    _manifest/v00000.json ...   (one JSON per committed version; latest wins)
    data/v00000/ ...            (immutable parquet segments: flat dirs of
                                 files, partition columns stored as data)

A manifest lists *segments*; each segment owns either the whole table
(unpartitioned) or an explicit set of partition values. Ownership lives
only in the manifest — the Delta/Iceberg rule of taking partition values
from the log, not from directory names. Reads take every segment in one
batched relation, filtering a segment to the partitions it still owns
where it lost some to a later commit — the same file-provenance idea
Delta's log encodes, at partition granularity. Segments written by older
versions of the format as hive-partitioned dirs (``Segment.hive``)
read alone through one legacy path until a rewrite replaces them.

Why this scales:
* Writes are never in-place: a merge writes ONLY the touched partitions
  into a fresh segment directory and commits a new manifest — identical
  I/O shape to Delta's copy-on-write MERGE — or only its changed rows as
  a patch segment that masks the versions it supersedes
  (``merge_patch``). A crash before the commit leaves only an
  unreferenced dir (``gc_orphans``).
* Reads prune: a partitioned table's segments are written distributed
  by the partition columns (each partition in one file, or a few for a
  large one) and sorted by them, and every segment's and file's stats
  record the exact partition values it holds. A partition-scoped read
  (``prune_spec_isin``) opens only the segments and files holding its
  partitions; a segment that lost partitions to a later commit opens only
  the files holding one it still owns; and the ownership predicate
  compares typed values that parquet pushes down to row groups and
  pages.
* Dynamic partition overwrite (Full loads) replaces ownership of exactly
  the partitions present in the incoming slice (Full.scala:38-50 parity).
* Old versions remain readable (time travel) until `vacuum()`.
* Every manifest records the table schema (the Delta log's ``metaData``
  analog), and every read is planned from it: building a read DataFrame
  starts no Spark schema-inference job, however many segments, patches or
  deletion-vector dirs are live, and partition columns keep their written
  types (a string partition "001" reads back as the string "001").
* Every parquet file the format writes — segments, patches, deletion-vector
  dirs and the arrow appends of the system tables — is zstd-compressed
  (``PARQUET_CODEC``), whichever session writes it. Parquet records the
  codec per column chunk, so segments written with another codec (snappy,
  before zstd was the format's) stay readable; compaction or a rewrite
  writes them back as zstd.

Commits are compare-and-swap: each version's manifest file is created with
the filesystem's create-if-absent primitive (``_commit``), so concurrent
writers racing for one version never lose a commit — the loser gets
ConcurrentCommitException and re-reads + retries.
"""

from __future__ import annotations

import json
import re
import time
import uuid
from dataclasses import dataclass, field, replace
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import logging

from datalakefoundation_spark.core.exceptions import ConcurrentCommitException
from datalakefoundation_spark.tables.fs import fs_for_path

logger = logging.getLogger(__name__)


@dataclass
class Segment:
    dir: str
    # None => owns the whole (unpartitioned) table.
    # Otherwise: list of partition-value dicts {col: string_value}.
    partitions: list[dict[str, str]] | None = None
    # Per-column min/max recorded at write time (the Delta file-statistics
    # analog at segment granularity): {col: {"min": v, "max": v, "t": kind}}
    # where kind is "num" (compare as float) or "str" (ISO timestamps/dates/
    # strings — lexicographic compare is order-correct for the fixed-width
    # ISO encodings the engine writes). A column entry with min=max=None
    # means the column was recorded and is all-NULL in the segment (no row
    # can satisfy a range predicate on it). None/missing => unknown, never
    # prunable. Collected via df.observe DURING the write action — zero
    # extra scan.
    stats: dict[str, dict] | None = None
    # Rows written into the segment (same free observe); None on segments
    # written before row counting existed or via driver-side arrow appends.
    rows: int | None = None
    # Per-FILE min/max stats: {relative_file_path: {col: {...same encoding
    # as `stats`...}}}. Finer-grained than the segment-level `stats` — lets
    # a windowed read prune individual files inside a surviving segment
    # (the full Delta file-skipping analog; `stats` alone skips only whole
    # segments). A partition column's entry here and in `stats` may also
    # list its exact non-NULL values ("vals", recorded at write time), which
    # point-membership pruning (prune_spec_isin) tests instead of the range.
    # None => unknown, read every file.
    files: dict[str, dict] | None = None
    # True iff the recorded `partitions` ownership still covers every
    # partition value of the rows inside this segment (set at write time,
    # flipped to False forever once replace_partitions shrinks the
    # segment's ownership). Ownership-full segments are read WITHOUT an
    # ownership filter. Old manifests deserialize as False (conservative:
    # every read filters them).
    owns_all: bool = True
    # Deletion-vector refs (merge-on-read): entries {"dir": <data-relative
    # dir of key parquet>, "keys": [col, ...], "flag": <bool col or None>}.
    # Each entry's key projection (rows where `flag` is true, when set)
    # masks row versions superseded or hard-deleted by a later commit
    # without rewriting this segment (the Delta deletion-vector / Iceberg
    # merge-on-read idea at key granularity). Attached only to segments
    # that existed BEFORE the masking commit, so re-inserted keys in later
    # segments resurface; reads apply all entries as one version-keyed
    # mask (LakeTable._read_segments).
    dv: list[dict] = field(default_factory=list)
    # True for a merge-on-read patch (merge_patch): a few changed rows
    # whose size counts as live patch rows in Processing's patch-or-rewrite
    # choice. Written flat like every segment but rebalanced into few
    # files, and read in the same batched relation.
    patch: bool = False
    # True for a hive-partitioned segment written by an older version of
    # this format (the partition dirs of a partitioned table, or of the
    # retired bucket layout): its partition values live in its dir names,
    # so it reads alone, filtered to its ownership, instead of joining the
    # batched relation. Nothing writes it now; manifests that predate the
    # field deserialize every partition-owning non-patch segment as hive,
    # which is what those versions wrote.
    hive: bool = False


@dataclass
class Manifest:
    version: int
    partition_by: list[str] = field(default_factory=list)
    segments: list[Segment] = field(default_factory=list)
    operation: str = ""
    timestamp: float = 0.0
    metrics: dict = field(default_factory=dict)
    # {"pk": <col>, "n": <buckets>} on manifests of the retired PK-hash
    # bucket layout (written by older versions of this format; nothing
    # writes it now). Their segments are hive-partitioned on BUCKET_COL
    # (``partition_by`` records it) and read per segment with ownership
    # filters; writers refuse to build on them except by a full rewrite
    # (LakeTable._require_current_layout).
    bucketing: dict | None = None
    # The table schema after this commit, every field nullable, partition
    # columns last (where segments store them). Reads hand it to every
    # parquet reader, so no read infers a schema. None on manifests written
    # before it was recorded, and on commits of no new rows over those
    # (LakeTable._schema infers it; the next commit writing rows records it).
    schema: T.StructType | None = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "partition_by": self.partition_by,
                "segments": [
                    {
                        "dir": s.dir,
                        "partitions": s.partitions,
                        "stats": s.stats,
                        "rows": s.rows,
                        "files": s.files,
                        "dv": s.dv,
                        "owns_all": s.owns_all,
                        "patch": s.patch,
                        "hive": s.hive,
                    }
                    for s in self.segments
                ],
                "operation": self.operation,
                "timestamp": self.timestamp,
                "metrics": self.metrics,
                "bucketing": self.bucketing,
                "schema": None if self.schema is None else self.schema.jsonValue(),
            },
            indent=1,
        )

    @classmethod
    def from_json(cls, text: str) -> "Manifest":
        obj = json.loads(text)
        return cls(
            version=obj["version"],
            partition_by=list(obj.get("partition_by", [])),
            segments=[
                Segment(
                    dir=s["dir"],
                    partitions=s.get("partitions"),
                    stats=s.get("stats"),
                    rows=s.get("rows"),
                    files=s.get("files"),
                    dv=list(s.get("dv") or []),
                    owns_all=bool(s.get("owns_all", False)),
                    patch=bool(s.get("patch", False)),
                    hive=bool(
                        s.get(
                            "hive",
                            s.get("partitions") is not None and not s.get("patch"),
                        )
                    ),
                )
                for s in obj.get("segments", [])
            ],
            operation=obj.get("operation", ""),
            timestamp=obj.get("timestamp", 0.0),
            metrics=obj.get("metrics", {}),
            bucketing=obj.get("bucketing"),
            schema=(
                T.StructType.fromJson(obj["schema"]) if obj.get("schema") else None
            ),
        )


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and map value nullable — how Spark
    reads any parquet column, so schemas compare by type alone."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType)) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType))
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType))
    return dt


def _merge_type(old: T.DataType, new: T.DataType, name: str) -> T.DataType:
    """Spark's parquet schema-merge rule for one column: structs merge
    their fields by name (new fields appended), decimals of one scale widen
    to the larger precision, anything else must be equal — a conflict
    raises ValueError naming the column."""
    if isinstance(old, T.StructType) and isinstance(new, T.StructType):
        fields = {f.name: f.dataType for f in old.fields}
        for f in new.fields:
            path = f"{name}.{f.name}" if name else f.name
            fields[f.name] = (
                _merge_type(fields[f.name], f.dataType, path)
                if f.name in fields
                else f.dataType
            )
        return T.StructType([T.StructField(n, t) for n, t in fields.items()])
    if isinstance(old, T.ArrayType) and isinstance(new, T.ArrayType):
        return T.ArrayType(_merge_type(old.elementType, new.elementType, name))
    if isinstance(old, T.MapType) and isinstance(new, T.MapType):
        return T.MapType(
            _merge_type(old.keyType, new.keyType, name),
            _merge_type(old.valueType, new.valueType, name),
        )
    if (
        isinstance(old, T.DecimalType)
        and isinstance(new, T.DecimalType)
        and old.scale == new.scale
    ):
        return T.DecimalType(max(old.precision, new.precision), old.scale)
    if old != new:
        raise ValueError(
            f"column {name!r} is {new.simpleString()} but the table records "
            f"{old.simpleString()}"
        )
    return old


def _evolve_schema(
    prev: T.StructType | None, new: T.StructType, partition_by: Sequence[str]
) -> T.StructType:
    """The table schema after writing a frame of schema ``new`` over a table
    of schema ``prev``, merged by ``_merge_type``: prev's columns, then the
    columns of ``new`` that prev lacks (additive evolution — older rows read
    them as typed NULLs), with ``partition_by`` columns moved last. A type
    conflict raises before the caller writes anything."""
    merged = _merge_type(
        prev if prev is not None else T.StructType(), _nullable(new), ""
    )
    return T.StructType(
        [f for f in merged.fields if f.name not in partition_by]
        + [merged[c] for c in partition_by if c in merged.fieldNames()]
    )


def spark_schema_of_arrow(arrow_schema) -> T.StructType:
    """The Spark schema of a pyarrow-written parquet file as Spark reads it
    back (naive timestamps are TIMESTAMP_NTZ)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(arrow_schema, prefer_timestamp_ntz=True)


def _pv_key(pv: dict[str, str]) -> tuple:
    return tuple(sorted(pv.items()))


def _exact_as_string(dt: T.DataType) -> bool:
    """Does casting a value of ``dt`` to string and back give the value
    itself? Partition values are recorded as strings; for these types they
    compare in the column's own type, which parquet can push down."""
    return isinstance(
        dt,
        (T.StringType, T.IntegralType, T.DateType, T.BooleanType, T.DecimalType),
    )


def _typed_value(v: str, dt: T.DataType):
    """A recorded partition value of a ``_exact_as_string`` type as the
    Python value the min/max stats encode (``_encode_stat``)."""
    import datetime as dt_
    import decimal

    if isinstance(dt, T.IntegralType):
        return int(v)
    if isinstance(dt, T.DateType):
        return dt_.date.fromisoformat(v)
    if isinstance(dt, T.BooleanType):
        return v == "true"
    if isinstance(dt, T.DecimalType):
        return decimal.Decimal(v)
    return v


def partition_filter(
    pvs: list[dict[str, str]], qualifier: str = "",
    schema: T.StructType | None = None,
) -> Column:
    """Rows whose partition columns hold one of ``pvs`` — partition-value
    dicts ``{col: value cast to string}``, None for a NULL value — with
    columns named ``qualifier + col``. The one ownership predicate: segment
    ownership on reads, the touched-partition scope of merges and of
    delete inference, and backend partition replacement.

    A column whose type ``schema`` gives as one a string round-trips
    exactly (``_exact_as_string``) compares against the values cast to its
    own type, a predicate parquet pushes down: on flat files sorted by
    their partition columns, row groups and pages of other partitions are
    skipped. Any other column compares as a string.

    A single partition column is one IN list rather than an OR-of-AND
    chain: with 32 values per segment and dozens of live segments the
    chained form made driver-side plan ANALYSIS the dominant read cost
    (measured 11 s of pure plan build at 33 segments x 32 values; isin
    analyzes in millis). A NULL value is matched with isNull — equality to
    lit(None) is never true and would drop every NULL-partition row."""
    types = {} if schema is None else {f.name: f.dataType for f in schema.fields}

    def side(k: str) -> tuple[Column, T.DataType | None]:
        col = F.col(f"{qualifier}{k}")
        dt = types.get(k)
        if dt is not None and _exact_as_string(dt):
            return col, dt
        return col.cast("string"), None

    def lit(v: str, dt: T.DataType | None) -> Column:
        return F.lit(v) if dt is None or isinstance(dt, T.StringType) else F.lit(v).cast(dt)

    keys = {k for pv in pvs for k in pv}
    if len(keys) == 1:
        (k,) = keys
        col, dt = side(k)
        vals = [lit(pv[k], dt) for pv in pvs if pv.get(k) is not None]
        cond = col.isin(vals) if vals else F.lit(False)
        if any(pv.get(k) is None for pv in pvs):
            cond = cond | F.col(f"{qualifier}{k}").isNull()
        return cond
    cond = F.lit(False)
    for pv in pvs:
        c = F.lit(True)
        for k, v in pv.items():
            if v is None:
                c = c & F.col(f"{qualifier}{k}").isNull()
            else:
                col, dt = side(k)
                c = c & (col == lit(v, dt))
        cond = cond | c
    return cond


def ownership_prune_spec(
    pvs: list[dict[str, str]], schema: T.StructType | None
) -> list | None:
    """A ``prune_spec_isin`` spec over the values of ``pvs`` for one
    partition column of a ``_exact_as_string`` type: the files of a segment
    that lost ownership whose stats hold none of the values it still owns
    need not be read. None (prune nothing) for several partition columns,
    another type, or a NULL value among ``pvs`` (min/max stats skip
    NULLs, so they cannot show a file holds none)."""
    keys = {k for pv in pvs for k in pv}
    if len(keys) != 1 or schema is None:
        return None
    (k,) = keys
    if k not in schema.fieldNames() or not _exact_as_string(schema[k].dataType):
        return None
    if any(pv.get(k) is None for pv in pvs):
        return None
    return prune_spec_isin(k, [_typed_value(pv[k], schema[k].dataType) for pv in pvs])


# Hive partition column of the retired PK-hash bucket layout
# (``Manifest.bucketing``): tables written with it keep their
# ``__dlf_bucket=N`` segment dirs until their next full rewrite. Internal:
# dropped from every read.
BUCKET_COL = "__dlf_bucket"

# Internal marker column persisted in merge-on-read patch segments: true on
# rows whose key should mask the superseded version in older segments (see
# Segment.dv / LakeTable.merge_patch). Dropped from every read, like the
# legacy bucket column.
MASK_COL = "__dlf_mask"

# Commit version a deletion-vector key was created at (persisted into
# coalesced dv dirs; derived from the dir name otherwise) and the segment
# version attached to rows during the global mask join. Internal.
DV_V_COL = "__dlf_dv_v"
SEG_V_COL = "__dlf_seg_v"

# Codec of every parquet file the format writes. Writers pass it
# themselves rather than rely on the session's default, so a table keeps
# its format whatever session writes to it; zstd's entropy stage stores the
# sha256 hex key and hash columns of silver rows at about half their snappy
# size.
PARQUET_CODEC = "zstd"

_DIR_V_RE = re.compile(r"^data/v(\d{5})")

# Write-task id column of a segment write's observation (never stored), and
# the task id in the name Spark's writer gives each task's file.
TASK_COL = "__dlf_task"
_TASK_FILE_RE = re.compile(r"^part-(\d+)-")


def _dir_version(rel_dir: str) -> int:
    """Commit version encoded in a data dir name (data/vNNNNN[-suffix]).
    The deletion-vector mask compares these versions, so a manifest
    naming a dir in any other form is rejected instead of mis-masked."""
    m = _DIR_V_RE.match(rel_dir)
    if m is None:
        raise ValueError(
            f"data dir {rel_dir!r} does not encode a commit version "
            "(expected data/vNNNNN...)"
        )
    return int(m.group(1))


def _path_version() -> Column:
    """Per-row commit version parsed from the segment dir inside
    ``_metadata.file_path``: the five digits after the LAST '/data/v'
    occurrence, which is this table's segment dir regardless of hive-subdir
    depth (legacy hive segments nest deeper). A plain
    substring search, not a backtracking regex: it runs on every row of
    every masked read."""
    return F.substring(
        F.substring_index(F.col("_metadata.file_path"), "/data/v", -1), 1, 5
    ).cast("long")


def zorder_numeric(col: Column, dtype: str) -> Column:
    """Monotone DOUBLE normalization of an orderable column for z-order
    bucketing. DATE cannot cast to DOUBLE directly (AnalysisException) and
    TIMESTAMP_NTZ's double cast is version-sensitive, so temporal types
    go through their integral epoch forms; only monotonicity matters."""
    if dtype == "date":
        return F.unix_date(col).cast("double")
    if dtype == "timestamp":
        return F.unix_micros(col).cast("double")
    if dtype == "timestamp_ntz":
        return F.unix_micros(col.cast("timestamp")).cast("double")
    if dtype == "boolean":
        return col.cast("int").cast("double")
    return col.cast("double")


def zorder_column(
    cols: Sequence[str],
    bounds: dict[str, tuple[float, float]],
    bits: int = 16,
    dtypes: dict[str, str] | None = None,
) -> Column:
    """Interleaved-bit (Morton / Z-order) clustering key over numeric or
    temporal columns. Each column is normalized to ``2**bits`` equal-width
    buckets between its observed min/max, then bucket bits are interleaved
    (bit ``j`` of column ``i`` lands at position ``j*n_cols + i``), so
    sorting on the key gives every column locality simultaneously — the
    property that makes per-file min/max stats selective on ALL clustered
    dimensions, where a lexicographic sort helps only the leading one.
    NULLs and values outside the observed bounds clamp to the edge buckets.
    Pure codegen'd bit arithmetic — no UDF, no shuffle of its own.

    ``bits`` is capped so the interleaved key fits in 63 bits: bit 63 is
    the long sign bit (setting it would sort high buckets FIRST), and Java
    shift amounts wrap mod 64, so an uncapped 5-column x 16-bit key would
    silently alias unrelated columns onto the same positions."""
    n = len(cols)
    if n < 1:
        raise ValueError("zorder needs at least one column")
    bits = min(int(bits), 63 // n)
    if bits < 1:
        raise ValueError(f"zorder cannot interleave {n} columns in 63 bits")
    buckets = 1 << bits
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        lo, hi = bounds[c]
        if not (hi > lo):  # constant or all-NULL column: every row bucket 0
            hi = lo + 1.0
        norm = zorder_numeric(F.col(c), (dtypes or {}).get(c, ""))
        v = F.width_bucket(
            norm, F.lit(float(lo)), F.lit(float(hi)), F.lit(buckets)
        ) - 1
        v = F.coalesce(v, F.lit(0))
        v = F.least(F.greatest(v, F.lit(0)), F.lit(buckets - 1)).cast("long")
        for bit in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(v, bit).bitwiseAND(F.lit(1)), bit * n + ci)
            )
    return z


# ------------------------------------------------------------ segment stats
def _encode_stat(v):
    """JSON-encode one observed min/max value -> (value, kind). kind "num"
    compares as float; "str" compares lexicographically — order-correct for
    the fixed-width ISO encodings str(datetime)/str(date) produce, and for
    string columns it matches Spark's UTF8 binary comparison (UTF-8 byte
    order preserves code-point order)."""
    import datetime as dt
    import decimal

    if v is None:
        return None, None
    if isinstance(v, bool):
        return int(v), "num"
    if isinstance(v, (int, float)):
        return v, "num"
    if isinstance(v, decimal.Decimal):
        return float(v), "num"
    if isinstance(v, (dt.datetime, dt.date)):
        return str(v), "str"
    return str(v), "str"


def _cond_may_match(stats: dict | None, col: str, lo, hi) -> bool:
    """Can any row of a segment with ``stats`` satisfy lo <= col <= hi?
    Missing stats/column -> unknown -> True (never prune blind). A recorded
    all-NULL column (min=max=None) satisfies no range predicate -> False."""
    if not stats or col not in stats:
        return True
    e = stats[col]
    mn, mx = e.get("min"), e.get("max")
    if mn is None and mx is None:
        return False
    try:
        if e.get("t") == "num":
            mn, mx = float(mn), float(mx)
            lo = None if lo is None else float(lo)
            hi = None if hi is None else float(hi)
        else:
            mn, mx = str(mn), str(mx)
            lo = None if lo is None else str(lo)
            hi = None if hi is None else str(hi)
            # Datetime-looking values compare as parsed datetimes so mixed
            # ISO separators ('T' vs ' ') can't mis-order; non-datetime
            # strings fall back to lexicographic (= Spark's UTF8 order).
            parsed = [_try_iso(v) for v in (mn, mx, lo, hi)]
            if all(p is not None for v, p in zip((mn, mx, lo, hi), parsed) if v is not None):
                mn, mx, lo, hi = parsed
        if lo is not None and mx < lo:
            return False
        if hi is not None and mn > hi:
            return False
    except (TypeError, ValueError):
        return True  # uncomparable bound -> unknown, conservative
    return True


def _try_iso(v):
    """datetime.fromisoformat if v parses as an ISO date/datetime, else None."""
    import datetime as dt

    if v is None:
        return None
    try:
        return dt.datetime.fromisoformat(v)
    except (TypeError, ValueError):
        return None


def prune_spec_for(predicates) -> list:
    """Interval prune-spec for ``LakeTable.read(prune_spec=...)`` from
    simple comparison predicates — the user-facing door to segment/file
    data skipping for ad-hoc range queries (the watermark window builder
    covers only delete-inference reads).

    ``predicates``: iterable of ``(column, op, value)`` with op one of
    >=, >, <=, <, ==, = or ``(column, "between", (lo, hi))``. Each
    predicate becomes its own AND group, so the spec means their
    conjunction. Strict bounds are widened to inclusive (conservative —
    pruning may read one boundary row extra, never drops a match).
    Values are encoded exactly like the recorded stats (datetimes/dates
    to ISO strings), so comparisons agree with the write-time encoding.
    The caller still applies the row-level filter; the spec only skips
    provably-disjoint storage."""
    spec: list[list[tuple]] = []
    for col, op, val in predicates:
        if op == "between":
            lo, hi = val
            lo, _ = _encode_stat(lo)
            hi, _ = _encode_stat(hi)
            spec.append([("and", col, lo, hi)])
            continue
        v, _ = _encode_stat(val)
        if op in (">=", ">"):
            spec.append([("and", col, v, None)])
        elif op in ("<=", "<"):
            spec.append([("and", col, None, v)])
        elif op in ("==", "="):
            spec.append([("and", col, v, v)])
        else:
            raise ValueError(f"prune_spec_for: unsupported op {op!r} for {col}")
    return spec


def _in_may_match(stats: dict | None, col: str, values) -> bool:
    """Can any row of a segment with ``stats`` have col IN values?
    ``values`` is a SORTED tuple encoded like the recorded stats
    (prune_spec_isin). Bisect instead of per-value interval checks: the
    point-membership spec exists for joins against thousands of collected
    keys (the banded dedup index), where an OR-group of point intervals
    would cost O(files x keys) driver time."""
    import bisect

    if not stats or col not in stats:
        return True
    e = stats[col]
    mn, mx = e.get("min"), e.get("max")
    if mn is None and mx is None:
        return False  # recorded all-NULL: equals nothing
    try:
        if "vals" in e:
            # the exact non-NULL values of a partition column (at most
            # file_stats_max_values of them): bisect each into the spec
            for v in e["vals"]:
                i = bisect.bisect_left(values, v)
                if i < len(values) and values[i] == v:
                    return True
            return False
        # convert only the two BOUNDS to the values' type — converting the
        # value list per file would cost O(files x values) over a whole
        # read (measured 131 s for 190k keys x 8k files before this)
        if e.get("t") == "num":
            mn, mx = float(mn), float(mx)
        else:
            mn, mx = str(mn), str(mx)
        i = bisect.bisect_left(values, mn)
        return i < len(values) and values[i] <= mx
    except (TypeError, ValueError):
        return True  # uncomparable -> unknown, conservative


def prune_spec_isin(col: str, values) -> list:
    """Point-membership prune spec: skip storage whose [min, max] range
    provably contains NONE of ``values`` — the data-skipping door for
    "join against these collected keys" reads (e.g. the frontier band
    keys against a band-key-clustered signature index). Values are
    encoded like the recorded stats and sorted once; evaluation is a
    bisect per segment/file. The caller still applies the real join/IN
    row-level — the spec only skips provably-disjoint storage."""
    enc = sorted({_encode_stat(v)[0] for v in values})
    return [[("in", col, tuple(enc))]]


def segment_may_match(stats: dict | None, spec) -> bool:
    """Conservative interval evaluation of a window ``spec`` (see
    watermark.build_window_spec: groups AND together; inside a group each
    condition folds with its own and/or) against a segment's recorded
    stats. True = the segment MIGHT hold a matching row; False = provably
    none does (safe to skip the segment entirely). Over-approximates by
    construction: may(A AND B) <= may(A) AND may(B), may(A OR B) ==
    may(A) OR may(B). A 3-tuple ``("in", col, sorted_values)`` condition
    (prune_spec_isin) is point membership, folded like an "and"."""
    if not spec:
        return True
    for group in spec:
        g_may: bool | None = None
        for cond in group:
            if cond[0] == "in":
                _, col, values = cond
                may = _in_may_match(stats, col, values)
                op = "and"
            else:
                op, col, lo, hi = cond
                may = _cond_may_match(stats, col, lo, hi)
            if g_may is None:
                g_may = may
            elif op == "or":
                g_may = g_may or may
            else:
                g_may = g_may and may
        if g_may is False:
            return False
    return True


class LakeTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_by: Sequence[str] = (),
        warn_on_layout_mismatch: bool = True,
        stats_columns: Sequence[str] = (),
    ) -> None:
        """``partition_by`` names the partition columns of the segments
        this instance writes: each segment owns the values it holds, and an
        unpartitioned table's segments own the whole table. Reads plan from
        the manifest they read, whatever this instance was given.
        ``warn_on_layout_mismatch`` is accepted for older callers and has no
        effect."""
        self.spark = spark
        self.path = path.rstrip("/")
        # LakeTable._schema's inferred schemas of manifests that predate the
        # recorded one, by version
        self._inferred_schemas: dict[int, T.StructType | None] = {}
        # Control-plane I/O (manifests, dir listings, vacuum) goes through a
        # filesystem abstraction: LocalFS for bare paths, the JVM Hadoop
        # FileSystem for scheme-qualified URIs (hdfs://, s3a://, file://...).
        # Data-plane segment I/O is always Spark and needs no abstraction.
        self.fs = fs_for_path(spark, self.path)
        # Columns to record per-segment min/max for at write time (the Delta
        # file-statistics analog): typically the entity's watermark +
        # businesskey columns. Collected via df.observe during the write
        # action, so recording them costs no extra scan. Partition columns
        # are always recorded: partition-scoped reads prune on them.
        self.stats_columns = tuple(dict.fromkeys((*stats_columns, *partition_by)))
        self.partition_by = list(partition_by)

    def _require_current_layout(self, mf: Manifest) -> None:
        """Refuse a commit that would keep the segments of a PK-hash
        bucketed table (``Manifest.bucketing``, written by older versions of
        this format): its hive bucket segments stay readable, but only a
        full rewrite — ``overwrite``, ``optimize`` or a Processing run —
        may build on them, and that rewrite commits a plain manifest."""
        if mf.bucketing:
            raise ValueError(
                f"{self.path} has the retired PK-hash bucket layout; rewrite it "
                "(overwrite or optimize) before any other write"
            )

    # ------------------------------------------------------------ manifest io
    @property
    def _manifest_dir(self) -> str:
        return f"{self.path}/_manifest"

    def latest_manifest(self) -> Manifest | None:
        d = self._manifest_dir
        versions = [f for f in self.fs.listdir(d) if f.endswith(".json")]
        if not versions:
            return None
        return Manifest.from_json(self.fs.read_text(f"{d}/{max(versions)}"))

    def manifest_at(self, version: int) -> Manifest:
        return Manifest.from_json(
            self.fs.read_text(f"{self._manifest_dir}/v{version:05d}.json")
        )

    def exists(self) -> bool:
        return self.latest_manifest() is not None

    def _schema(self, mf: Manifest) -> T.StructType | None:
        """The table schema at ``mf`` (None for a manifest without
        segments).

        A manifest written before the schema was recorded gets it inferred
        here — the one place this table asks Spark to infer a schema: one
        inference job per segment, cached per LakeTable object and version.
        Data column types come from the parquet footers. Partition column
        types cannot be known from dir names, so they read as the exact
        dir strings (the legacy bucket column as int); they are provisional, and
        the next commit that writes rows records its frame's types for
        them (``_write_segment``)."""
        if mf.schema is not None:
            return mf.schema
        if mf.version not in self._inferred_schemas:
            data = None
            for s in mf.segments:
                seg = self.spark.read.parquet(f"{self.path}/{s.dir}").schema
                data = _evolve_schema(
                    data,
                    T.StructType([f for f in seg.fields if f.name not in mf.partition_by]),
                    [],
                )
            self._inferred_schemas[mf.version] = None if data is None else T.StructType(
                data.fields
                + [
                    T.StructField(
                        c, T.IntegerType() if c == BUCKET_COL else T.StringType()
                    )
                    for c in mf.partition_by
                ]
            )
        return self._inferred_schemas[mf.version]

    def _commit(self, manifest: Manifest) -> None:
        """Atomic compare-and-swap commit: the version file is created with
        the filesystem's create-if-absent primitive (hard-link on LocalFS,
        ``create(path, overwrite=false)`` on HadoopFS), so two writers racing
        for the same version cannot silently drop each other's segments — the
        loser gets ConcurrentCommitException and must re-read + retry. This
        is the same one-immutable-file-per-version protocol Delta/Iceberg
        use for their commit files; object-store caveats live in fs.py."""
        final = f"{self._manifest_dir}/v{manifest.version:05d}.json"
        try:
            self.fs.create_exclusive(final, manifest.to_json())
        except FileExistsError:
            raise ConcurrentCommitException(
                f"version {manifest.version} of {self.path} was committed concurrently"
            )

    # At most this many files per segment get footer-level stats recorded;
    # beyond it only segment-level stats are kept (a manifest entry per file
    # must stay control-plane-sized). At 100 TB the per-file stats would be
    # collected by the write tasks themselves (the Delta approach) instead
    # of driver-side footer reads — the manifest format is already shaped
    # for that swap.
    file_stats_max_files = 256
    # A file's partition-column stats list its exact values (``vals``) when
    # it holds at most this many; past it, min/max only.
    file_stats_max_values = 256

    def _collect_file_stats(
        self, seg_rel: str, task_vals: dict[int, dict[str, set]] | None = None
    ) -> dict[str, dict] | None:
        """Per-file min/max for ``stats_columns``, read from the parquet
        footers of a just-written segment (seek-based: a few KB per file,
        no data pages). Local filesystems only — on object stores the
        production path is collecting the same numbers in the write tasks.

        ``task_vals`` (write task -> {partition column: encoded values},
        observed by ``_write_segment``) adds the exact values to the stats
        of the files that task wrote, named ``part-<task>-...`` by Spark's
        writer: a file holding a scattered set of partitions is then
        skipped by any partition set it misses (``_in_may_match``), where
        its min/max range would cover them.

        Parquet writers may truncate long BYTE_ARRAY min/max values, but
        always conservatively (stored min <= actual min, stored max >=
        actual max), so pruning on them can never drop a matching file.
        A column without statistics in any row group is omitted for that
        file (=> unknown => never pruned)."""
        from datalakefoundation_spark.tables.fs import LocalFS

        if not self.stats_columns or not isinstance(self.fs, LocalFS):
            return None
        import os

        import pyarrow.parquet as pq

        base = f"{self.path}/{seg_rel}"
        paths: list[str] = []
        for root, _dirs, names in os.walk(base):
            paths.extend(
                os.path.join(root, n) for n in names if n.endswith(".parquet")
            )
        if not paths or len(paths) > self.file_stats_max_files:
            return None
        out: dict[str, dict] = {}
        for f in sorted(paths):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            fstats: dict[str, dict] = {}
            for c in self.stats_columns:
                if c not in idx:
                    continue
                i = idx[c]
                mn = mx = None
                ok = True
                for rg in range(md.num_row_groups):
                    col = md.row_group(rg).column(i)
                    st = col.statistics
                    if st is None:
                        ok = False
                        break
                    if (
                        st.null_count is not None
                        and st.null_count == md.row_group(rg).num_rows
                    ):
                        continue  # all-NULL row group: no min/max to add
                    if not st.has_min_max:
                        ok = False
                        break
                    mn = st.min if mn is None else min(mn, st.min)
                    mx = st.max if mx is None else max(mx, st.max)
                if not ok:
                    continue
                lo, k_lo = _encode_stat(mn)
                hi, k_hi = _encode_stat(mx)
                # mn=mx=None here means every row group was all-NULL — the
                # same "no row can match a range predicate" encoding the
                # segment-level stats use
                fstats[c] = {"min": lo, "max": hi, "t": k_lo or k_hi or "str"}
            m = _TASK_FILE_RE.match(os.path.basename(f))
            for c, vals in (task_vals or {}).get(int(m.group(1)) if m else -1, {}).items():
                if c in fstats and len(vals) <= self.file_stats_max_values:
                    fstats[c]["vals"] = sorted(vals)
            out[os.path.relpath(f, base)] = fstats
        return out

    # ------------------------------------------------------------ segment io
    def _write_segment(
        self, df: DataFrame, mf: Manifest | None, evolve: bool = True,
        patch: bool = False, laid_out: bool = False,
    ) -> tuple[Segment, T.StructType]:
        """Write one immutable segment for the commit that follows ``mf``
        (the manifest the caller read); returns the new ``Segment`` (dir,
        ownership, per-column min/max stats, row count, per-file stats) and
        the table schema that commit records. The dir name carries that
        commit's version, which the deletion-vector mask relies on. Segment
        stats + count are collected with ``df.observe`` DURING the write
        action — no second pass; file stats come from the written footers
        (metadata-only reads).

        Every segment is written flat: partition columns are data, moved
        last. A base segment of a partitioned table is first rebalanced by
        its partition columns — the hash write distribution Iceberg
        defaults to for partitioned tables: each partition lands in one
        task (a large one split over several, small ones sharing one) — and
        each task's rows are sorted by them, so a file holds few partitions
        in row groups and pages of their own. The values each task wrote
        are recorded in its file's stats (``_collect_file_stats``), so
        partition-scoped and ownership-filtered reads open only the files
        holding their partitions. A ``patch`` is rebalanced into few files
        instead of one per task of the plan that found its rows. A caller
        that distributes and orders ``df`` itself (``optimize``) passes
        ``laid_out``. Ownership (``partitions``) is the distinct partition
        values the same observation saw; None on an unpartitioned table.

        The recorded schema is the written frame's (partition and mask
        columns included) — added to ``mf``'s schema when ``evolve``,
        replacing it otherwise (a full overwrite). A column typed unlike
        its recorded type raises before anything is written. On a manifest
        without a recorded schema the inferred partition column types are
        provisional, so the frame's types replace them."""
        from pyspark.sql import Observation

        if patch:
            # a patch's few rows come from every task of the plan that found
            # them; rebalanced to advisory-size partitions they land as one
            # file per ~64 MB instead of one per task, so every later read
            # of the patch opens that many files, not more
            df = df.hint("rebalance")
        elif self.partition_by and not laid_out:
            df = df.hint("rebalance", *self.partition_by)
        if self.partition_by:
            df = df.select(
                *[c for c in df.columns if c not in self.partition_by],
                *self.partition_by,
            )
            if not laid_out:
                df = df.sortWithinPartitions(*self.partition_by)
        prev = self._schema(mf) if mf is not None and evolve else None
        if prev is not None and mf.schema is None:
            prev = T.StructType(
                [f for f in prev.fields if f.name not in mf.partition_by]
            )
        schema = _evolve_schema(prev, df.schema, self.partition_by)
        next_v = (mf.version + 1) if mf else 0
        # writer-unique dir (same rule as append_arrow / dv writers): two
        # same-entity writers racing for next_v must never share a segment
        # path — the Hadoop committer renames task files into the dir, so a
        # shared path let the CAS LOSER's part files land inside the
        # WINNER's committed segment (silent row duplication) or fail the
        # loser with an opaque rename IOException instead of the clean
        # ConcurrentCommitException (caught by tests/test_merge_race.py)
        seg_rel = f"data/v{next_v:05d}-{uuid.uuid4().hex[:8]}"
        stat_cols = [
            f.name
            for f in df.schema.fields
            if f.name in self.stats_columns and "<" not in f.dataType.simpleString()
        ]
        obs = Observation()
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in stat_cols:
            aggs.append(F.min(F.col(c)).alias(f"mn_{c}"))
            aggs.append(F.max(F.col(c)).alias(f"mx_{c}"))
        # the partition values each write task holds, by the task's id (a
        # column: Spark evaluates no nondeterministic expression inside an
        # observed aggregate)
        part_cols = [c for c in self.partition_by if c in stat_cols]
        if self.partition_by:
            aggs.append(
                F.collect_set(
                    F.struct(*[F.col(c).cast("string").alias(c) for c in self.partition_by])
                ).alias("__pvs")
            )
        if part_cols:
            df = df.withColumn(TASK_COL, F.spark_partition_id())
            aggs.append(F.collect_set(F.struct(TASK_COL, *part_cols)).alias("__tvs"))
        df.observe(obs, *aggs).drop(TASK_COL).write.mode("overwrite").option(
            "compression", PARQUET_CODEC
        ).parquet(f"{self.path}/{seg_rel}")
        got = obs.get
        task_vals: dict[int, dict[str, set]] = {}
        for r in got["__tvs"] if part_cols else []:
            for c in part_cols:
                if r[c] is not None:
                    task_vals.setdefault(r[TASK_COL], {}).setdefault(c, set()).add(
                        _encode_stat(r[c])[0]
                    )
        stats = None
        if stat_cols:
            stats = {}
            for c in stat_cols:
                mn, kind_mn = _encode_stat(got[f"mn_{c}"])
                mx, kind_mx = _encode_stat(got[f"mx_{c}"])
                stats[c] = {"min": mn, "max": mx, "t": kind_mn or kind_mx or "str"}
            for c in part_cols:
                vals = set().union(*(tv.get(c, set()) for tv in task_vals.values()))
                if len(vals) <= self.file_stats_max_values:
                    stats[c]["vals"] = sorted(vals)
        partitions = None
        if self.partition_by:
            partitions = [pv.asDict() for pv in got["__pvs"]]
        seg = Segment(
            seg_rel, partitions, stats=stats, rows=int(got["__n"] or 0),
            files=self._collect_file_stats(seg_rel, task_vals), patch=patch,
        )
        return seg, schema

    def version_at_timestamp(self, ts: float) -> int:
        """Latest committed version whose commit timestamp is <= ts (the
        ``timestampAsOf`` lookup). Raises if the table has no commit that
        old."""
        versions = [m.version for m in self.history() if m.timestamp <= ts]
        if not versions:
            raise FileNotFoundError(
                f"no version of {self.path} committed at or before {ts}"
            )
        return max(versions)

    # ------------------------------------------------------------ read
    def read(
        self,
        version: int | None = None,
        as_of_timestamp: float | None = None,
        prune_spec=None,
    ) -> DataFrame:
        """The table's rows at ``version`` (default: the latest).
        ``as_of_timestamp`` reads the newest version committed at or before
        the given unix time (ignored when an explicit ``version`` is
        passed).

        ``prune_spec`` (a window spec from ``watermark.build_window_spec``)
        skips segments whose recorded min/max stats prove no row can match —
        data skipping at segment granularity, the Delta file-statistics
        analog. The result is a SUPERSET of the matching rows (callers still
        apply the row-level predicate); segments without stats are always
        read."""
        if version is None and as_of_timestamp is not None:
            version = self.version_at_timestamp(as_of_timestamp)
        mf = self.manifest_at(version) if version is not None else self.latest_manifest()
        if mf is None:
            raise FileNotFoundError(f"LakeTable does not exist: {self.path}")
        return self._read_segments(mf, mf.segments, prune_spec)

    def _read_segments(
        self, mf: Manifest, all_segs: list[Segment], prune_spec=None
    ) -> DataFrame:
        """The rows of ``all_segs`` (segments of ``mf``) with their deletion
        vectors applied — the one segment-reading path, shared by ``read``,
        ``optimize`` and ``compact_small_segments``.

        Every reader is planned from the table ``schema``, so building the
        frame starts no schema-inference job (only Spark's parallel file
        listing, past ``parallelPartitionDiscovery.threshold`` root paths,
        may run one): a segment written before a column was added reads it
        as a typed NULL, and partition values keep the written column types
        instead of re-inferred ones.

        Deletion vectors apply as ONE broadcast anti join per key set after
        the union, against the mask rows ``(keys, d)`` of every entry
        (``_dv_masks``): a row is dropped when its key is masked by an entry
        newer than its segment (``d > seg_version``). That equals applying
        each segment's own dv list: an entry created at commit d is
        attached to exactly the segments in the manifest at d — all of
        which have version < d — and never to later segments (re-inserted
        keys resurface). Segment versions are monotone in commit order and
        encoded in the dir names, so "entry attached to seg" <=> "d >
        seg_version", which reproduces every list exactly — for any subset
        of one manifest's segments. The global join costs one small build
        regardless of patch count, where per-segment anti-joins build
        O(live patches^2) broadcast exchanges (measured 0.5 s -> 19.6 s
        over 32 patches at 2M rows). The mask rows are broadcast as read:
        grouping them to one max version per key first, for a left join
        keeping rows whose max is not newer, cost a shuffle stage and
        2.4–2.9 s of CPU per read against 1.5–2.0 s for the anti join (40k
        rows in 10 buckets plus 4 patches, 4 cores)."""
        if not all_segs:
            raise FileNotFoundError(f"LakeTable has no segments: {self.path}")
        schema = self._schema(mf)
        segs = list(all_segs)
        if prune_spec is not None:
            segs = [s for s in segs if segment_may_match(s.stats, prune_spec)]
        entries = {e["dir"]: e for s in segs for e in s.dv or []}
        masks = self._dv_masks(list(entries.values()), schema)
        # Segment reads are BATCHED: every segment lands in ONE multi-path
        # spark.read.parquet(*paths) call instead of its own reader +
        # unionByName node. The per-segment union loop built an O(live
        # segments) driver plan — measured 6.1 s of pure plan build at 100
        # tiny segments and 60.3 s at 1000 (segment-count probe at commit
        # 4dd3b77) — while the batched read is one relation whose splits
        # coalesce by maxPartitionBytes instead of one task per tiny file,
        # and one mask join above it. Every root is a flat dir or file (no
        # hive subdirs), so the batch discovers no partitions. A segment
        # whose file stats prune part of it joins as its surviving files. A
        # segment that lost ownership (not ``owns_all``) keeps its rows
        # filtered there by its commit version (unique per data segment in
        # a manifest), which batched rows take from _metadata.file_path —
        # the same version the mask join compares. The table schema covers
        # additively-evolved segments: files without a column read it as a
        # typed NULL.
        parts: list[DataFrame] = []
        batched: list[str] = []
        restricted: list[tuple[int, list[dict[str, str]]]] = []
        for seg in segs:
            base = f"{self.path}/{seg.dir}"
            if seg.hive:
                # legacy hive segment (an older version's partitionBy
                # write): its partition values live in its dir names, so it
                # reads alone (single-root partition discovery), filtered
                # to the partitions it owns
                df = self.spark.read.schema(schema).parquet(base)
                df = df.where(partition_filter(seg.partitions, schema=schema))
                if masks:
                    df = df.withColumn(SEG_V_COL, F.lit(_dir_version(seg.dir)).cast("long"))
                parts.append(df)
                continue
            restrict = seg.partitions is not None and not seg.owns_all
            # file-level skipping inside the surviving segment: read only
            # the files whose footer stats might hold a matching row and,
            # when the segment lost ownership, one of the partitions it
            # still owns (a spec's groups AND together)
            spec = list(prune_spec or [])
            if restrict:
                spec += ownership_prune_spec(seg.partitions, schema) or []
            paths = [base]
            if spec and seg.files:
                keep = [
                    p
                    for p, fstats in seg.files.items()
                    if segment_may_match(fstats, spec)
                ]
                if not keep:
                    continue
                if len(keep) < len(seg.files):
                    paths = [f"{base}/{p}" for p in sorted(keep)]
            batched.extend(paths)
            if restrict:
                restricted.append((_dir_version(seg.dir), seg.partitions))
        if batched:
            bdf = self.spark.read.schema(schema).parquet(*batched)
            if masks or restricted:
                bdf = bdf.withColumn(SEG_V_COL, _path_version())
            for v, pvs in restricted:
                bdf = bdf.where(
                    (F.col(SEG_V_COL) != v) | partition_filter(pvs, schema=schema)
                )
            parts.insert(0, bdf)
        if not parts:
            # everything pruned: no rows, the table's columns
            parts = [self.spark.createDataFrame([], schema)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        for keys, mask in masks.items():
            cond = F.col(DV_V_COL) > F.col(SEG_V_COL)
            for k in keys:
                # rows from segments predating an evolved key column read
                # NULL -> no match -> kept
                cond = cond & (F.col(k) == F.col(f"__dv_{k}"))
            mask = mask.select(*[F.col(k).alias(f"__dv_{k}") for k in keys], DV_V_COL)
            out = out.join(F.broadcast(mask), cond, "left_anti")
        # the mask column and the legacy bucket column are internal
        return out.drop(SEG_V_COL, MASK_COL, BUCKET_COL)

    def _dv_masks(
        self, entries: list[dict], schema: T.StructType
    ) -> dict[tuple, DataFrame]:
        """One mask table per key set over deletion-vector ``entries``:
        ``(keys..., __dlf_dv_v = a commit version masking that key)``, a
        row per masking entry (a key masked twice has two rows).

        A key's masking version is its entry's commit version, parsed from
        the entry dir's name, unless the dir persists a per-key
        ``__dlf_dv_v`` (coalesced dvs — merging never widens a key's mask
        window). Each dir is read with just the projection the mask needs:
        the keys typed as in the table ``schema``, the entry's flag as
        boolean and ``__dlf_dv_v`` as long — a dir without the flag or the
        version column reads it as NULL (no mask / the dir's version).
        Returns {} when there are no entries."""
        groups: dict[tuple, list[str]] = {}
        for e in entries:
            _dir_version(e["dir"])  # the mask compares dir versions
            groups.setdefault((tuple(e["keys"]), e.get("flag")), []).append(e["dir"])
        by_keys: dict[tuple, list[DataFrame]] = {}
        for (keys, flag), dirs in groups.items():
            proj = T.StructType(
                [schema[k] for k in keys]
                + ([T.StructField(flag, T.BooleanType())] if flag else [])
                + [T.StructField(DV_V_COL, T.LongType())]
            )
            # ONE multi-path read per (keys, flag) group — a reader per
            # entry made every live patch its own relation (O(patches) plan
            # nodes on exactly the trickle-ingest path that accumulates
            # patches fastest). Patches are flat dirs; the hive-layout patch
            # dirs of older versions read alone via single-root hive
            # discovery (multi-root reads reject mixed/hive structures)
            # instead of joining the batch. A folded patch dir is no longer
            # a segment of the manifest, so its layout is listed here.
            paths: list[str] = []
            reads: list[DataFrame] = []
            for d in dirs:
                base = f"{self.path}/{d}"
                if any("=" in n for n in self.fs.listdir(base)):
                    reads.append(self.spark.read.schema(proj).parquet(base))
                    continue
                paths.append(base)
            if paths:
                reads.append(self.spark.read.schema(proj).parquet(*paths))
            for f in reads:
                if flag:
                    # NULL flag (a non-masking patch row) drops from the mask
                    f = f.where(F.col(flag))
                v = F.coalesce(F.col(DV_V_COL), _path_version())
                by_keys.setdefault(keys, []).append(f.select(*keys, v.alias(DV_V_COL)))
        masks: dict[tuple, DataFrame] = {}
        for keys, frames in by_keys.items():
            u = frames[0]
            for f in frames[1:]:
                u = u.unionByName(f)
            masks[keys] = u
        return masks

    # ------------------------------------------------------------ write ops
    def overwrite(
        self,
        df: DataFrame,
        dynamic: bool = False,
        metrics: dict | None = None,
        operation: str | None = None,
        metrics_fn=None,
        base: Manifest | None = None,
    ) -> None:
        """Full overwrite, or dynamic partition overwrite (only partitions
        present in df are replaced — Full.scala:38-50).

        ``metrics_fn`` (no-arg callable) is evaluated AFTER the write action
        and merged into the commit metrics — the hook for observation-based
        counts (e.g. total_rows) that only exist once the job has run.

        ``base`` is the manifest ``df`` was planned from (default: the
        latest). The commit takes the version after it, so if another
        writer committed since, the compare-and-swap fails with
        ``ConcurrentCommitException`` instead of replacing that writer's
        rows with a state computed without them. The same holds for
        ``replace_partitions`` and ``merge_patch``."""
        mf = self.latest_manifest() if base is None else base
        full = not dynamic or not self.partition_by or mf is None
        # a full overwrite replaces the schema; a dynamic one keeps the
        # other partitions' segments, so it evolves the schema instead
        new, schema = self._write_segment(df, mf, not full)
        if metrics_fn is not None:
            metrics = {**(metrics or {}), **metrics_fn()}
        next_v = (mf.version + 1) if mf else 0
        if full:
            segments = [new]
        else:
            segments = self._without_partitions(mf.segments, new.partitions) + [new]
        self._commit(
            Manifest(
                version=next_v,
                partition_by=self.partition_by,
                segments=segments,
                operation=operation or ("overwrite_dynamic" if dynamic else "overwrite"),
                timestamp=time.time(),
                metrics=metrics or {},
                schema=schema,
            )
        )

    def optimize(
        self,
        cluster_by: Sequence[str] = (),
        target_partitions: int | None = None,
        zorder: bool = False,
        zorder_bits: int = 16,
    ) -> None:
        """Table maintenance (the OPTIMIZE / ZORDER BY analog for a parquet
        lakehouse): rewrite the current version into one fresh compacted
        segment, optionally range-clustered on ``cluster_by``.

        * Compaction folds the many small segments that accumulate from
          incremental merges into one — fewer files to list/open, full-size
          row groups.
        * ``cluster_by`` range-repartitions + sorts within partitions on the
          given columns, so each output file/row-group covers a narrow value
          range — parquet min/max stats then skip most of the table for
          selective predicates on those columns (the data-skipping effect
          Z-ORDER provides; for a single clustering dimension range-sort is
          strictly better, for 2+ it is the practical linear-order stand-in).
          On a partitioned table the partition columns lead the range keys.

        Runs as one shuffle + one write; old versions stay readable until
        ``vacuum()``. A table of the retired bucket layout is rewritten
        plain.

        ``zorder=True`` (with 2+ numeric/temporal ``cluster_by`` columns)
        clusters on an interleaved-bit Morton key instead of the
        lexicographic range sort: every clustered column gets locality, so
        the per-file min/max stats recorded at write time prune selective
        predicates on ANY of the dimensions, not just the leading one (the
        Delta ZORDER BY trade — slightly wider per-file ranges on the first
        column, bounded ranges on all of them). Costs one extra min/max
        aggregation to fix the normalization bounds.

        The rewrite commits the version after the manifest it read, so a
        writer that commits meanwhile makes it fail rather than lose rows.
        """
        mf = self.latest_manifest()
        if mf is None:
            raise FileNotFoundError(f"LakeTable does not exist: {self.path}")
        cur = self._read_segments(mf, mf.segments)
        if zorder and cluster_by:
            zcols = list(cluster_by)
            numeric_ok = {
                f.name
                for f in cur.schema.fields
                if f.dataType.simpleString()
                in ("tinyint", "smallint", "int", "bigint", "float", "double",
                    "date", "timestamp", "timestamp_ntz", "boolean")
                or f.dataType.simpleString().startswith("decimal")
            }
            bad = [c for c in zcols if c not in numeric_ok]
            if bad:
                # equal-width bucketing needs an ordered numeric domain; a
                # string column would normalize to NULL -> bucket 0 and
                # silently destroy the clustering. Range sort handles any
                # orderable type, so fall back to it.
                logger.warning(
                    "zorder skipped for %s: non-numeric cluster columns %s; "
                    "using lexicographic range clustering",
                    self.path, bad,
                )
                zorder = False
        # a partitioned table's partition columns lead the clustering keys,
        # so each file still holds few partitions
        lead = [F.col(c) for c in self.partition_by]
        df, keys = cur, []
        if zorder and cluster_by:
            dtypes = {
                f.name: f.dataType.simpleString()
                for f in cur.schema.fields
                if f.name in zcols
            }
            agg = []
            for c in zcols:
                norm = zorder_numeric(F.col(c), dtypes.get(c, ""))
                agg.append(F.min(norm).alias(f"mn_{c}"))
                agg.append(F.max(norm).alias(f"mx_{c}"))
            row = cur.agg(*agg).first()
            bounds = {
                c: (
                    row[f"mn_{c}"] if row[f"mn_{c}"] is not None else 0.0,
                    row[f"mx_{c}"] if row[f"mx_{c}"] is not None else 0.0,
                )
                for c in zcols
            }
            zkey = zorder_column(zcols, bounds, bits=zorder_bits, dtypes=dtypes)
            df = cur.withColumn("__dlf_z", zkey)
            keys = [*lead, F.col("__dlf_z")]
        elif cluster_by:
            keys = [*lead, *[F.col(c) for c in cluster_by if c not in self.partition_by]]
        if keys:
            if target_partitions:
                df = df.repartitionByRange(target_partitions, *keys)
            else:
                df = df.repartitionByRange(*keys)
            df = df.sortWithinPartitions(*keys).drop("__dlf_z")
        elif target_partitions:
            df = df.repartition(target_partitions, *lead)
            if lead:
                df = df.sortWithinPartitions(*lead)
        new, schema = self._write_segment(
            df, mf, evolve=False, laid_out=bool(keys or target_partitions)
        )
        self._commit(
            Manifest(
                version=mf.version + 1,
                partition_by=self.partition_by,
                segments=[new],
                operation="optimize",
                timestamp=time.time(),
                metrics={"cluster_by": list(cluster_by), **({"zorder": True} if zorder and keys else {})},
                schema=schema,
            )
        )

    def compact_small_segments(self, small_rows: int = 100_000) -> list[str]:
        """Incremental compaction: fold only the segments smaller than
        ``small_rows`` rows (or with unknown counts) into one fresh
        segment; large segments keep their files untouched. This is the
        maintenance shape that survives 100 TB — a full ``optimize()``
        rewrites the entire table to fold a handful of micro-batch
        segments, while this reads and rewrites only the small tail
        (Delta/Iceberg bin-packing OPTIMIZE makes the same trade at file
        granularity).

        Recorded ``rows`` are the counts at write time; a segment that
        later lost partition ownership may be smaller than recorded and
        merely waits for a later pass — conservative, never wrong.

        Hive segments of older versions (``Segment.hive``) are folded
        whatever their size: this is how partitions no merge touches again
        leave the legacy read path. Returns the folded segment dirs ([] if
        fewer than two candidates and no hive one, or if the partition
        column types are still provisional: a manifest without a recorded
        schema reads them as the dir strings of its hive segments, and a
        flat fold would store those strings as data under the types the
        next write records, so its fold waits for that write)."""
        mf = self.latest_manifest()
        if mf is None:
            return []
        self._require_current_layout(mf)
        if mf.schema is None and mf.partition_by:
            return []
        small = [
            s for s in mf.segments if s.hive or s.rows is None or s.rows < small_rows
        ]
        if self.partition_by:
            # a None-ownership segment means "whole table" — never fold it
            # into explicit partition ownership (shouldn't exist on a
            # partitioned table, but stay safe)
            small = [s for s in small if s.partitions is not None]
        if len(small) < 2 and not any(s.hive for s in small):
            return []
        # deletion vectors materialize here, through the same mask read()
        # applies: the folded segment holds the post-mask rows and needs no
        # dv refs of its own (other segments' refs to a folded patch dir
        # stay valid — the dir outlives the fold until vacuum)
        schema = self._schema(mf)
        merged = self._read_segments(mf, small)
        folded, _ = self._write_segment(merged, mf)
        if any(s.partitions is None for s in small):
            folded.partitions = None  # unpartitioned append-style segments
        else:
            folded.partitions = [pv for s in small for pv in s.partitions]
        kept = [s for s in mf.segments if s not in small]
        # Coalesce surviving deletion-vector refs: a kept base segment
        # still needs its masks (its rows stay superseded), but one ref PER
        # folded patch grows its manifest entry forever and keeps every
        # patch dir alive past vacuum(). One merged key dir per key set
        # holds only the masking keys.
        kept = self._coalesce_dv_refs(kept, mf.version + 1, schema)
        self._commit(
            Manifest(
                version=mf.version + 1,
                partition_by=self.partition_by,
                segments=kept + [folded],
                operation="compact",
                timestamp=time.time(),
                metrics={"folded": len(small)},
                # the table's own rows, read with its schema: the schema is
                # unchanged (still None on a manifest that predates it, so
                # its partition types stay provisional)
                schema=mf.schema,
            )
        )
        return [s.dir for s in small]

    def append(self, df: DataFrame, metrics: dict | None = None) -> None:
        mf = self.latest_manifest()
        if mf is not None:
            self._require_current_layout(mf)
        new, schema = self._write_segment(df, mf)
        next_v = (mf.version + 1) if mf else 0
        segments = (list(mf.segments) if mf else []) + [new]
        self._commit(
            Manifest(
                version=next_v,
                partition_by=self.partition_by,
                segments=segments,
                operation="append",
                timestamp=time.time(),
                metrics=metrics or {},
                schema=schema,
            )
        )

    def append_arrow(self, arrow_table, label: str = "") -> Manifest:
        """Driver-side control-plane append: one pyarrow file, no Spark job
        (for KB-sized system rows — watermarks, logs). Optimistic-concurrency
        retry: a commit conflict means another writer won that version —
        re-read the manifest and go again (same CAS protocol as Spark-side
        commits; swap os.link for a conditional put on an object store).
        Returns the manifest it committed."""
        import pyarrow.parquet as pq

        from datalakefoundation_spark.core.exceptions import ConcurrentCommitException

        import io

        for attempt in range(50):
            mf = self.latest_manifest()
            schema = _evolve_schema(
                self._schema(mf) if mf is not None else None,
                spark_schema_of_arrow(arrow_table.schema),
                [],
            )
            next_v = (mf.version + 1) if mf else 0
            # writer-unique dir: the CAS loser deletes its own segment below,
            # so two writers must never share a path even at the same
            # (version, label, attempt)
            nonce = uuid.uuid4().hex[:8]
            seg_rel = (
                f"data/v{next_v:05d}-{label}-{nonce}" if label else f"data/v{next_v:05d}-{nonce}"
            )
            buf = io.BytesIO()
            pq.write_table(arrow_table, buf, compression=PARQUET_CODEC)
            self.fs.put_bytes(f"{self.path}/{seg_rel}/part-00000.parquet", buf.getvalue())
            segments = (list(mf.segments) if mf else []) + [Segment(seg_rel, None)]
            new_mf = Manifest(
                version=next_v,
                partition_by=[],
                segments=segments,
                operation="append",
                timestamp=time.time(),
                schema=schema,
            )
            try:
                self._commit(new_mf)
                return new_mf
            except ConcurrentCommitException:
                # reclaim the orphaned segment before retrying at the next
                # version — lost races must not leak a dir per attempt
                self.fs.delete_tree(f"{self.path}/{seg_rel}")
                continue
        raise ConcurrentCommitException(f"arrow append to {self.path} lost 50 commit races")

    def replace_partitions(
        self,
        df: DataFrame,
        partition_values: list[dict[str, str]],
        metrics: dict | None = None,
        operation: str = "merge",
        base: Manifest | None = None,
    ) -> None:
        """Copy-on-write commit: df becomes the new content of exactly
        ``partition_values``; every other partition keeps its segment in
        ``base`` (the manifest ``df`` was planned from, default: the latest;
        see ``overwrite``). This is the merge/SCD2 write path — touched
        partitions written once."""
        mf = self.latest_manifest() if base is None else base
        if mf is None:
            raise FileNotFoundError(f"LakeTable does not exist: {self.path}")
        self._require_current_layout(mf)
        new, schema = self._write_segment(df, mf)
        # Rows may land outside the requested partitions (a merge that updates
        # a partition column). Those extra partitions get co-owned by the new
        # segment so the rows stay visible (matches the reference's Delta
        # behavior where a partition-moving update inserts alongside the old
        # row); the old owners are NOT dropped for them.
        requested = {_pv_key(pv) for pv in partition_values}
        extra = [pv for pv in new.partitions if _pv_key(pv) not in requested]
        new.partitions = list(partition_values) + extra
        segments = self._without_partitions(mf.segments, partition_values) + [new]
        self._commit(
            Manifest(
                version=mf.version + 1,
                partition_by=self.partition_by,
                segments=segments,
                operation=operation,
                timestamp=time.time(),
                metrics=metrics or {},
                schema=schema,
            )
        )

    @staticmethod
    def _without_partitions(
        segments: list[Segment], pvs: list[dict[str, str]]
    ) -> list[Segment]:
        """``segments`` after a commit takes over ownership of ``pvs``: each
        keeps the partitions it still owns, and one left owning nothing
        drops out. Whole-table segments (``partitions`` None) cannot occur
        on a partitioned table. The dv refs MUST survive the handoff: kept
        rows are still masked by later patches/deletes, and dropping the
        refs would resurrect superseded versions."""
        drop = {_pv_key(pv) for pv in pvs}
        out = []
        for seg in segments:
            if seg.partitions is None:
                continue
            kept = [pv for pv in seg.partitions if _pv_key(pv) not in drop]
            if kept:
                out.append(
                    replace(
                        seg, partitions=kept, dv=list(seg.dv or []),
                        owns_all=seg.owns_all and len(kept) == len(seg.partitions),
                    )
                )
        return out

    def merge_patch(
        self,
        df: DataFrame,
        keys: Sequence[str],
        mask_col: str | None = None,
        metrics: dict | None = None,
        operation: str = "merge_patch",
        metrics_fn=None,
        base: Manifest | None = None,
    ) -> int:
        """Merge-on-read commit: append ONLY the changed/inserted rows as a
        patch segment and mask the superseded versions in every existing
        segment via a deletion-vector reference to the patch's own key
        projection — write cost O(changed rows) instead of rewriting every
        touched partition (the Delta deletion-vector / Hudi MOR
        trade: cheap writes, reads pay one version-keyed broadcast mask
        join per key set until compaction folds the patches).

        ``keys`` identify a row VERSION (merge: the PK hash; SCD2: PK +
        ValidFrom). ``mask_col`` (persisted into the patch, stripped from
        reads) marks which patch rows mask an old version — inserts mask
        nothing, and excluding them keeps the DV exact. Returns the patch
        row count; an empty patch commits nothing (the state is unchanged).

        The patch owns the partition values it holds, like every segment,
        so a later ``replace_partitions`` of those values takes them over
        (folding the patch), while reads take every live patch in the one
        batched relation.

        ``base`` is the manifest the patch was planned from (default: the
        latest; see ``overwrite``): a patch planned before another writer's
        commit could mask that writer's newer version of a key it touched.
        """
        mf = self.latest_manifest() if base is None else base
        if mf is None:
            raise FileNotFoundError(f"LakeTable does not exist: {self.path}")
        self._require_current_layout(mf)
        if mask_col is not None and mask_col not in df.columns:
            # the mask read types a missing flag as NULL: nothing would mask
            raise ValueError(
                f"merge_patch mask_col {mask_col!r} is not a column of the patch"
            )
        new, schema = self._write_segment(df, mf, patch=True)
        if new.rows == 0:
            self.fs.delete_tree(f"{self.path}/{new.dir}")
            if metrics_fn is not None:
                metrics_fn()  # evaluate observers so callers can read counts
            return 0
        if metrics_fn is not None:
            metrics = {**(metrics or {}), **metrics_fn()}
        entry = {"dir": new.dir, "keys": list(keys), "flag": mask_col}
        segments = [replace(s, dv=list(s.dv or []) + [entry]) for s in mf.segments]
        segments.append(new)
        self._commit(
            Manifest(
                version=mf.version + 1,
                partition_by=self.partition_by,
                segments=segments,
                operation=operation,
                timestamp=time.time(),
                metrics=metrics or {},
                schema=schema,
            )
        )
        return new.rows

    def _coalesce_dv_refs(
        self, segments: list[Segment], next_version: int, schema: T.StructType
    ) -> list[Segment]:
        """Rewrite multi-entry dv lists into one merged key dir per key
        set. Reads already apply any number of entries as one mask join;
        coalescing keeps manifests small and lets vacuum() reclaim folded
        patch dirs, which _referenced_dirs keeps alive while any segment
        refers to them. Identical dv lists (the common case — every base
        segment carries the same patch refs) share one merged write. Merged
        dirs are committed in the same manifest, so vacuum/gc liveness
        holds; a crash before the commit leaves only an unreferenced
        orphan."""
        merged_cache: dict[tuple, list[dict]] = {}
        out: list[Segment] = []
        for s in segments:
            entries = list(s.dv or [])
            if len(entries) <= 1:
                out.append(s)
                continue
            sig = tuple(
                sorted((e["dir"], tuple(e["keys"]), e.get("flag")) for e in entries)
            )
            if sig not in merged_cache:
                groups: dict[tuple, list[dict]] = {}
                for e in entries:
                    groups.setdefault(tuple(e["keys"]), []).append(e)
                new_entries: list[dict] = []
                for keys, es in groups.items():
                    if len(es) == 1:
                        new_entries.append(es[0])
                        continue
                    # the mask table carries each key's ORIGINAL masking
                    # version: the merged dir must not widen any key's
                    # mask window
                    rel = f"data/v{next_version:05d}-dv-{uuid.uuid4().hex[:8]}"
                    self._dv_masks(es, schema)[keys].groupBy(*keys).agg(
                        F.max(DV_V_COL).alias(DV_V_COL)
                    ).write.mode("overwrite").option(
                        "compression", PARQUET_CODEC
                    ).parquet(f"{self.path}/{rel}")
                    new_entries.append(
                        {"dir": rel, "keys": list(keys), "flag": None}
                    )
                merged_cache[sig] = new_entries
            out.append(replace(s, dv=list(merged_cache[sig])))
        return out

    def delete_keys(self, keys_df: DataFrame, keys: Sequence[str]) -> None:
        """Hard delete by key without rewriting any data (the GDPR-erasure
        shape): write the keys as a standalone deletion-vector dir — NOT a
        data segment — and attach it to every current segment. Matching
        rows vanish from every subsequent read; ``optimize()`` /
        compaction materialize the deletion physically (run one before
        vacuuming if the bytes themselves must go away)."""
        mf = self.latest_manifest()
        if mf is None:
            raise FileNotFoundError(f"LakeTable does not exist: {self.path}")
        self._require_current_layout(mf)
        schema = self._schema(mf)
        # mask reads type the keys from the table schema, so the dv dir
        # stores them cast to it (an int key frame against a bigint column
        # keeps working); a key that is no table column, or a partition
        # column whose type is still provisional, raises before writing
        missing = [k for k in keys if k not in schema.fieldNames()]
        if missing:
            raise ValueError(f"delete_keys: {missing} are not columns of {self.path}")
        if mf.schema is None and set(keys) & set(mf.partition_by):
            raise ValueError(
                f"delete_keys on partition columns of {self.path} needs their types "
                "recorded: write rows to the table first"
            )
        dv_rel = f"data/v{mf.version + 1:05d}-dv-{uuid.uuid4().hex[:8]}"
        keys_df.select(
            *[F.col(k).cast(schema[k].dataType).alias(k) for k in keys]
        ).write.mode("overwrite").option("compression", PARQUET_CODEC).parquet(
            f"{self.path}/{dv_rel}"
        )
        entry = {"dir": dv_rel, "keys": list(keys), "flag": None}
        segments = [replace(s, dv=list(s.dv or []) + [entry]) for s in mf.segments]
        self._commit(
            Manifest(
                version=mf.version + 1,
                partition_by=self.partition_by,
                segments=segments,
                operation="delete",
                timestamp=time.time(),
                schema=mf.schema,
            )
        )

    def to_view_sql(self) -> str:
        """A self-contained SELECT over the current version's segments —
        usable to register a persistent catalog view (no temp-object refs).
        Partition-ownership filters are inlined as WHERE clauses.

        ``parquet.`path``` SQL cannot carry a schema, so unlike ``read()``
        the view takes each segment's types from its file footers. Segments
        store partition columns as data, so those keep their written types
        (a string partition "001" reads as "001"). Known gap: a legacy hive
        segment's partition values come from its dir names, re-inferred —
        a numeric-looking string partition column reads as a number
        there."""
        mf = self.latest_manifest()
        if mf is None:
            raise FileNotFoundError(f"LakeTable does not exist: {self.path}")
        # dirs referenced as a flagged deletion vector are patch segments
        # carrying the internal mask column — exclude it from their SELECT
        flagged = {
            e["dir"] for s in mf.segments for e in (s.dv or []) if e.get("flag")
        }
        selects = []
        for seg in mf.segments:
            star = f"* EXCEPT ({MASK_COL})" if seg.dir in flagged else "*"
            sql = f"SELECT {star} FROM parquet.`{self.path}/{seg.dir}`"
            clauses = []
            if seg.partitions is not None and mf.partition_by:
                ors = [
                    " AND ".join(
                        f"{k} IS NULL" if v is None else f"CAST({k} AS STRING) = '{v}'"
                        for k, v in pv.items()
                    )
                    for pv in seg.partitions
                ]
                clauses.append("(" + (" OR ".join(f"({o})" for o in ors) or "FALSE") + ")")
            for entry in seg.dv or []:
                keys = ", ".join(entry["keys"])
                sub = f"SELECT {keys} FROM parquet.`{self.path}/{entry['dir']}`"
                if entry.get("flag"):
                    sub += f" WHERE {entry['flag']}"
                clauses.append(f"({keys}) NOT IN ({sub})")
            if clauses:
                sql += " WHERE " + " AND ".join(clauses)
            selects.append(sql)
        return " UNION ALL ".join(selects)

    # ------------------------------------------------------------ maintenance
    def gc_orphans(self, older_than_seconds: float = 3600.0) -> list[str]:
        """Reclaim crash leftovers: segment dirs referenced by NO manifest
        version (a writer dying between ``_write_segment`` and ``_commit``
        leaves the freshly-written dir with no manifest pointing at it).
        Unlike ``vacuum()``, history/time travel is untouched — every dir
        any committed version references survives.

        ``older_than_seconds`` guards against racing an in-flight writer:
        a concurrent commit-in-progress has already written its segment dir
        but not yet its manifest, which is indistinguishable from a crash
        leftover by listing alone. Only dirs older than the threshold are
        deleted (the same retention idea as Delta's VACUUM); pass 0 only
        when no concurrent writer can exist (tests, single-writer
        maintenance windows).

        Cost when there is nothing to do: one control-plane listdir — the
        full manifest-history read happens only when unreferenced
        candidates exist."""
        mf = self.latest_manifest()
        if mf is None:
            return []
        live_latest = self._referenced_dirs([mf])
        names = [f"data/{n}" for n in self.fs.listdir(f"{self.path}/data")]
        candidates = [d for d in names if d not in live_latest]
        if not candidates:
            return []
        referenced = self._referenced_dirs(self.history())
        now = time.time()
        removed: list[str] = []
        for rel in candidates:
            if rel in referenced:
                continue  # older version still time-travel readable
            try:
                age = now - self.fs.mtime(f"{self.path}/{rel}")
            except Exception:  # pragma: no cover - raced deletion etc.
                continue
            if age >= older_than_seconds:
                self.fs.delete_tree(f"{self.path}/{rel}")
                removed.append(rel)
        return removed

    def restore(
        self, version: int | None = None, as_of_timestamp: float | None = None
    ) -> int:
        """Roll the table back to an earlier committed state (the Delta
        ``RESTORE TABLE ... TO VERSION AS OF`` analog) by committing a NEW
        version that references the old version's segments verbatim — no
        data is copied or rewritten, and the rolled-back-over versions stay
        in history (time-travel-readable, vacuumable later). Requires the
        restored version's segment dirs to still exist (i.e. not vacuumed);
        raises FileNotFoundError otherwise rather than committing a
        manifest that cannot be read. Returns the new version number.
        """
        if version is None:
            if as_of_timestamp is None:
                raise ValueError("restore needs version or as_of_timestamp")
            version = self.version_at_timestamp(as_of_timestamp)
        try:
            src = self.manifest_at(version)
        except FileNotFoundError:
            # vacuum() deletes old manifests together with their segment
            # dirs — surface the operational cause, not a raw ENOENT
            raise FileNotFoundError(
                f"cannot restore {self.path} to v{version}: that version's "
                "manifest was vacuumed"
            )
        cur = self.latest_manifest()
        if cur is None:
            raise FileNotFoundError(f"LakeTable does not exist: {self.path}")
        missing = [
            d
            for d in sorted(self._referenced_dirs([src]))
            if not self.fs.isdir(f"{self.path}/{d}")
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {self.path} to v{version}: segment dirs "
                f"{missing} were vacuumed"
            )
        self._commit(
            Manifest(
                version=cur.version + 1,
                partition_by=list(src.partition_by),
                segments=[replace(s, dv=list(s.dv or [])) for s in src.segments],
                operation="restore",
                timestamp=time.time(),
                metrics={"restored_version": version},
                bucketing=src.bucketing,
                schema=src.schema,
            )
        )
        return cur.version + 1

    def vacuum(
        self, retain_last: int = 1, retain_seconds: float | None = None
    ) -> list[str]:
        """Delete segment dirs + manifests not referenced by the newest
        ``retain_last`` versions (the version-count analog of Delta's
        time-based VACUUM retention). Default 1 keeps only the current
        version — time travel resets; pass a larger value to keep a
        rollback/debugging horizon. Values < 1 are clamped to 1 (the
        current version is never droppable).

        ``retain_seconds`` additionally keeps every version committed
        within the last that many seconds (the Delta ``RETAIN N HOURS``
        semantics) — the two retention rules union, so passing both keeps
        whichever horizon is longer."""
        retain_last = max(1, int(retain_last))
        history = self.history()
        if not history:
            return []
        keep = sorted(history, key=lambda m: m.version, reverse=True)[:retain_last]
        if retain_seconds is not None:
            cutoff = time.time() - retain_seconds
            kept_v = {m.version for m in keep}
            keep += [
                m for m in history if m.timestamp >= cutoff and m.version not in kept_v
            ]
        live = self._referenced_dirs(keep)
        keep_manifests = {f"v{m.version:05d}.json" for m in keep}
        removed = []
        for name in self.fs.listdir(f"{self.path}/data"):
            rel = f"data/{name}"
            if rel not in live:
                self.fs.delete_tree(f"{self.path}/{rel}")
                removed.append(rel)
        for name in self.fs.listdir(self._manifest_dir):
            if name.endswith(".json") and name not in keep_manifests:
                self.fs.delete_file(f"{self._manifest_dir}/{name}")
        return removed

    @staticmethod
    def _referenced_dirs(manifests: Sequence[Manifest]) -> set[str]:
        """Every data-relative dir a set of manifests keeps alive: the
        segment dirs AND the deletion-vector dirs their segments reference
        (a standalone delete_keys dir is data a read depends on exactly
        like a segment — vacuuming it would resurrect deleted rows)."""
        out: set[str] = set()
        for m in manifests:
            for s in m.segments:
                out.add(s.dir)
                for entry in s.dv or []:
                    out.add(entry["dir"])
        return out

    def stats_summary(self, version: int | None = None) -> dict[str, dict]:
        """Table-level per-column bounds folded from the manifest's
        per-segment statistics — pure control-plane (no data scan, no
        Spark job): {col: {"min": v, "max": v, "t": kind}}.

        The bounds are CONSERVATIVE (a superset interval of the live
        values): deletion vectors and partition-ownership handoffs only
        remove rows from a segment, so the recorded write-time min/max
        still bound whatever survives. A column missing stats in any
        segment is omitted (unknown). This is the engine's answer to
        "what's the watermark ceiling / key range of this table" without
        touching data — the same query Delta answers from file stats."""
        mf = self.manifest_at(version) if version is not None else self.latest_manifest()
        if mf is None:
            raise FileNotFoundError(f"LakeTable does not exist: {self.path}")
        cols: set[str] = set()
        for s in mf.segments:
            cols.update((s.stats or {}).keys())
        out: dict[str, dict] = {}
        for c in cols:
            lo = hi = kind = None
            ok = True
            for s in mf.segments:
                e = (s.stats or {}).get(c)
                if e is None:
                    ok = False
                    break
                if e.get("min") is None and e.get("max") is None:
                    continue  # all-NULL segment contributes no bounds
                kind = kind or e.get("t")
                try:
                    if e.get("t") == "num":
                        mn, mx = float(e["min"]), float(e["max"])
                    else:
                        mn, mx = str(e["min"]), str(e["max"])
                    lo = mn if lo is None else min(lo, mn)
                    hi = mx if hi is None else max(hi, mx)
                except (TypeError, ValueError):
                    ok = False
                    break
            if ok and kind is not None:
                out[c] = {"min": lo, "max": hi, "t": kind}
        return out

    def history(self) -> list[Manifest]:
        d = self._manifest_dir
        return [
            Manifest.from_json(self.fs.read_text(f"{d}/{f}"))
            for f in self.fs.listdir(d)
            if f.endswith(".json")
        ]
