"""Structured Streaming operators.

The reference has NO streaming surface (SURVEY.md §2.11 — its "watermark" is
a batch bookmark); this module is part of the 100 TB extension goals:
ingest an event stream, windowed aggregation with event-time watermarks for
late data, stateful sessionization via applyInPandasWithState, and a
bronze-append sink compatible with the batch Processing pipeline.
"""

from __future__ import annotations

import datetime as _dt
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from datalakefoundation_spark.tables.lake_table import PARQUET_CODEC


def _stream_id(checkpoint: str) -> str:
    """Stream-generation id derived from the checkpoint location (batch ids
    restart at 0 for a new checkpoint, so a raw batch_id key would alias
    streams). WRITERS and READERS must agree byte-for-byte — this is the
    single definition; replay keys, survivor directories, and
    read_clean_corpus_output all derive from it.

    The location is NORMALIZED before hashing so that equivalent spellings
    of the same directory (trailing slash, relative vs absolute path,
    ``file://`` URI) map to the SAME id — otherwise a reader spelling the
    checkpoint differently than the writer would look for a missing
    ``stream=<id>`` subtree (or, worse, scope to a different generation).
    Remote scheme URIs (s3a://, hdfs://...) are kept verbatim apart from
    the trailing-slash strip: there is no local filesystem to resolve
    against, and scheme+authority are already canonical.

    A ``file://`` URI with a non-empty, non-localhost authority
    (``file://host/path``) is REJECTED: stripping the scheme would fold
    the host into a CWD-relative path and silently scope to the wrong
    generation; Hadoop's LocalFileSystem does not address remote hosts
    either.

    MIGRATION (checkpoints created before normalization landed): the old
    derivation hashed the RAW string, so a deployment that spelled its
    checkpoint non-canonically (trailing slash, relative path, file://
    URI) owns ``stream=<legacy id>`` subtrees and ledger entries under a
    DIFFERENT id. Readers probe the legacy id as a fallback
    (``_stream_id_candidates`` + ``read_clean_corpus_output``); writers
    switch to the normalized id at upgrade, which the reader's
    batch-id-deduplicated union bridges. The batch-keyed reconcile ledger
    needs no migration: legacy keys are opaque ``sid:bid`` strings and
    keep their own per-sid watermark."""
    import os

    c = checkpoint
    if c.startswith("file://"):
        rest = c[len("file://"):]
        authority, _, _path = rest.partition("/")
        if authority not in ("", "localhost"):
            raise ValueError(
                f"_stream_id: file:// URI with non-empty authority "
                f"{authority!r} — a remote-host file URI has no local "
                "filesystem to resolve against; use the plain path or a "
                "real remote scheme (hdfs://, s3a://)"
            )
        c = rest[len(authority):] or "/"
    if "://" not in c:
        c = os.path.abspath(c)
    c = c.rstrip("/") or "/"
    return _raw_stream_id(c)


def _raw_stream_id(s: str) -> str:
    import hashlib

    return hashlib.sha256(s.encode()).hexdigest()[:16]


def _stream_id_candidates(checkpoint: str) -> list[str]:
    """Normalized id first, then the LEGACY raw-string id when the spelling
    was non-canonical — readers probe in this order so deployments whose
    ``stream=<id>`` subtrees were written before spelling normalization
    keep resolving (see the migration note on ``_stream_id``)."""
    ids = [_stream_id(checkpoint)]
    legacy = _raw_stream_id(checkpoint)
    if legacy not in ids:
        ids.append(legacy)
    return ids


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File-source stream over a parquet directory (the local stand-in for a
    Kafka topic; swap format('kafka') + from_json in production)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_counts(
    events: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling/sliding event-time window aggregation with a late-data
    watermark; partial aggregation happens before the shuffle."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("closed", T.BooleanType()),
    ]
)

_STATE_SCHEMA = "start timestamp, last timestamp, n long"


def _session_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Gap-based sessionization (30 min inactivity closes a session)."""
    gap = _dt.timedelta(minutes=30)
    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame(
            [{"user_id": key[0], "session_start": start, "session_end": last,
              "n_events": n, "closed": True}]
        )
        return
    rows = pd.concat(list(pdfs), ignore_index=True)
    ts = rows["ts"].sort_values()
    if state.exists:
        start, last, n = state.get
    else:
        start, last, n = ts.iloc[0], ts.iloc[0], 0
    for t in ts:
        if t - last > gap:
            yield pd.DataFrame(
                [{"user_id": key[0], "session_start": start, "session_end": last,
                  "n_events": n, "closed": True}]
            )
            start, n = t, 0
        last = max(last, t)
        n += 1
    state.update((start, last, n))
    state.setTimeoutDuration(30 * 60 * 1000)
    yield pd.DataFrame(
        [{"user_id": key[0], "session_start": start, "session_end": last,
          "n_events": n, "closed": False}]
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (Arrow-batched;
    state is per-user, shuffled once on user_id)."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exactly-once-by-key deduplication: drop repeats of the same
    key arriving within the event-time watermark horizon. State is bounded
    by the watermark (old keys age out), so this scales to unbounded streams
    — the streaming twin of the batch exact-dedup operator, and the standard
    guard in front of a training-data ingest (at-least-once sources replay)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_watermark: str = "2 minutes",
    right_watermark: str = "2 minutes",
    within: str = "1 minute",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with an event-time range bound:
    each left event pairs with right events of the same key whose timestamp
    falls in ``[left.ts - within, left.ts + within]``.

    Both watermarks plus the range condition are what make the state store
    BOUNDED — Spark evicts buffered rows once the watermark passes their
    joinable horizon, so this scales to unbounded streams (an un-bounded
    stream join would buffer both streams forever). Outer variants emit
    NULL-padded rows only after the watermark proves no match can arrive —
    exactly Spark's documented semantics; this helper just packages the
    contract (distinct column names, the interval condition, per-side
    watermarks) so callers can't accidentally build the unbounded form.
    """
    li = left.withWatermark("ts", left_watermark).select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c not in (key, "ts")],
    )
    ri = right.withWatermark("ts", right_watermark).select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c not in (key, "ts")],
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {within}"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    return li.join(ri, cond, how)


def detect_hot_keys(
    calibration: DataFrame,
    key: str = "user_id",
    min_share: float = 0.01,
    max_keys: int = 64,
) -> list:
    """Heavy-hitter detection over a BATCH calibration window — the input to
    ``salted_stream_stream_join(hot_keys=...)``.

    One groupBy-count over the calibration sample (a recent slice of the
    stream's source, read as a batch DataFrame), keeping keys whose share
    exceeds ``min_share``. The count table is persisted so the total and
    the threshold filter share one scan; the collect is control-plane
    bounded by ``max_keys`` (each hot key costs ×salt_buckets right-state
    replication downstream, so a long list is a config smell — raise
    rather than silently salt half the key universe). Returns a plain list
    suitable for an IN-literal (broadcast with the plan, no join).

    For calibrating FROM THE STREAM ITSELF (the production shape: "the
    last N minutes of the same stream"), pair
    ``stream_hot_key_calibration`` (a foreachBatch sampler maintaining a
    bounded rolling count table) with ``detect_hot_keys_rolling``."""
    counts = calibration.groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
    return _hot_keys_from_counts(counts, key, min_share, max_keys)


def _hot_keys_from_counts(counts, key: str, min_share: float, max_keys: int) -> list:
    counts = counts.persist()
    try:
        total = counts.agg(F.sum("__n")).first()[0] or 0
        if total == 0:
            return []
        rows = (
            counts.where(F.col("__n") >= float(min_share) * total)
            .orderBy(F.desc("__n"))
            .limit(max_keys + 1)
            .collect()
        )
    finally:
        counts.unpersist()
    if len(rows) > max_keys:
        raise ValueError(
            f"detect_hot_keys: more than max_keys={max_keys} keys exceed "
            f"min_share={min_share} — raise the share threshold (every hot "
            "key pays ×salt_buckets right-state replication) or raise "
            "max_keys deliberately"
        )
    return [r[key] for r in rows]


def stream_hot_key_calibration(
    events: DataFrame,
    counts_path: str,
    checkpoint: str,
    key: str = "user_id",
    window: str = "5 minutes",
    retention_windows: int = 6,
    trigger_available_now: bool = True,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """foreachBatch sampler maintaining the ROLLING per-key count table
    that ``detect_hot_keys_rolling`` reads — the streaming calibration
    source for the salted-join hot lists (r9 directive #6: "calibrate
    from the last N minutes of the same stream").

    Each micro-batch folds ONE partial aggregate row per
    (tumbling event-time window, key) into a LakeTable — batch-sized
    work, never a source rescan, same discipline as the signature-index
    and rollup sinks. The table stays BOUNDED: whenever stored rows fall
    behind the newest window by more than ``retention_windows``, the fold
    rewrites the (already small) table without them; between prunes it
    grows only by the per-batch distinct (window, key) pairs. Replays are
    exactly-once by the (stream id, batch id) key: a replayed batch sees
    its own key already stored and no-ops, and the prune+fold lands as
    ONE CAS commit so a crash between them cannot split the state.

    Correctness never depends on this table: a stale or wrong hot list
    degrades the salted join's SPREAD, not its rows (asserted in
    tests/test_streaming.py), so the sampler can lag, restart, or lose
    retention without a data bug — it is pure steering."""
    from datalakefoundation_spark.tables.lake_table import LakeTable

    stream_id = _stream_id(checkpoint)
    horizon = F.expr(f"INTERVAL {window}") * F.lit(int(retention_windows))

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        replay_key = f"{stream_id}:{batch_id}"
        part = (
            batch_df.groupBy(
                F.window("ts", window).getField("start").alias("window_start"),
                F.col(key),
            )
            .agg(F.count(F.lit(1)).alias("__n"))
            .withColumn("__batch_key", F.lit(replay_key))
        )
        # stats on __batch_key make the replay check manifest-only (r11,
        # same discipline as the signature index's _index_has_batch_key):
        # a fresh batch key prunes every segment before any data I/O.
        # Tables written before stats existed degrade to the scan path.
        table = LakeTable(spark, counts_path, stats_columns=("__batch_key",))
        if not table.exists():
            table.overwrite(part, operation="calibration_bootstrap")
            return
        if _index_has_batch_key(table, replay_key):
            return  # replayed batch: already folded, exactly-once no-op
        stored = table.read()
        newest_row = part.agg(F.max("window_start")).first()
        newest = newest_row[0] if newest_row else None
        cutoff = F.lit(newest) - horizon
        if newest is None or stored.where(
            F.col("window_start") < cutoff
        ).isEmpty():
            table.append(part)
        else:
            # prune + fold in one atomic commit; the rewrite is small by
            # construction (the kept slice is <= retention_windows wide)
            keep = stored.where(F.col("window_start") >= cutoff)
            table.overwrite(
                keep.unionByName(part), operation="calibration_prune"
            )

    writer = events.writeStream.foreachBatch(_fold).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def detect_hot_keys_rolling(
    spark,
    counts_path: str,
    key: str = "user_id",
    last_windows: int = 3,
    min_share: float = 0.01,
    max_keys: int = 64,
) -> list:
    """Heavy-hitter list from the last ``last_windows`` event-time windows
    of a ``stream_hot_key_calibration`` count table — the same share
    threshold and cap as ``detect_hot_keys``, fed by the stream itself.

    The recent-window pick is a bounded collect (distinct window starts,
    newest first); the share is computed over partial counts summed per
    key within those windows. Returns [] when the table doesn't exist yet
    — callers start unsalted and re-calibrate on their own cadence."""
    from datalakefoundation_spark.tables.lake_table import LakeTable

    table = LakeTable(spark, counts_path)
    if not table.exists():
        return []
    stored = table.read()
    recent = [
        r["window_start"]
        for r in stored.select("window_start")
        .distinct()
        .orderBy(F.desc("window_start"))
        .limit(last_windows)
        .collect()
    ]
    if not recent:
        return []
    counts = (
        stored.where(F.col("window_start").isin(recent))
        .groupBy(key)
        .agg(F.sum("__n").alias("__n"))
    )
    return _hot_keys_from_counts(counts, key, min_share, max_keys)


def salted_stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    salt_buckets: int = 8,
    left_watermark: str = "2 minutes",
    right_watermark: str = "2 minutes",
    within: str = "1 minute",
    how: str = "inner",
    hot_keys: list | None = None,
) -> DataFrame:
    """``stream_stream_join`` with a salted front-end for HOT keys.

    The plain join hashes by key alone, so a rank-1 key carrying p% of
    both streams pushes its whole (p·n)² pair product — and its state —
    through ONE state partition (the r7 probe measured 27M pairs/batch
    for a 6% key). Salting spreads it: the left side gets a deterministic
    per-row salt (xxhash64 of the full row — identical across replays, so
    exactly-once holds), the right side is REPLICATED to every salt, and
    the join adds ``l_salt == r_salt``. Each left row meets each matching
    right row in exactly one salt bucket, so the result set is
    row-identical to the unsalted join (asserted in
    tests/test_streaming.py) while the hot key's pair product and state
    spread over ``salt_buckets`` partitions.

    ``hot_keys`` — the HOT-KEY-SCOPED form (the 100 TB default): only the
    listed keys are salted; every other key takes salt 0 on both sides
    (one replica — the plain join's state cost). Blanket replication
    (``hot_keys=None``) pays ×salt_buckets right-side state on ALL keys to
    fix a skew only the heavy hitters have; with a hot list, right-state
    overhead drops to ×(1 + (salt_buckets-1)·hot_share) — plain-level
    state with salted-level wall (measured head-to-head by the stream-state
    probe at commit 4dd3b77, legs join_salted vs join_salted_hot).
    Detect the list with ``detect_hot_keys`` over a calibration window, or
    pass it statically. Row-identity holds for any list — a key's rows
    meet exactly once whether salted or not — so a stale calibration
    degrades the SPREAD, never correctness. The list is broadcast as an
    IN-literal; keep it heavy-hitter-sized (``detect_hot_keys`` caps it).

    Costs and limits, stated plainly: right-side state is ×salt_buckets
    on replicated keys (replication is the price of spreading — size the
    bucket count to the skew, not to the cluster); total pair VOLUME is
    unchanged (salting kills the straggler, not the quadratic — when
    per-event pairs aren't actually needed, use ``windowed_stream_join``
    instead, which removes the product entirely); bit-identical duplicate
    left rows share a salt (they are exact-dup candidates upstream —
    dedup before joining). Only ``inner`` and ``left_outer`` are allowed:
    an unmatched RIGHT replica would otherwise emit one NULL-padded row
    per salt."""
    if how not in ("inner", "left_outer"):
        raise ValueError(
            f"salted_stream_stream_join: how={how!r} would duplicate "
            "unmatched right rows across salts; use inner or left_outer"
        )
    if salt_buckets < 2:
        raise ValueError("salted_stream_stream_join: salt_buckets must be >= 2")
    if hot_keys is not None and len(hot_keys) == 0:
        # an empty hot list means "nothing needs salting" — that is the
        # plain join; building the salted plan for it would silently pay
        # the salt-condition overhead for nothing
        raise ValueError(
            "salted_stream_stream_join: hot_keys=[] — use stream_stream_join "
            "(nothing to salt), or pass hot_keys=None for blanket salting"
        )
    # salt from the HASHABLE columns only: xxhash64 rejects map-typed input
    # at plan time — at ANY nesting depth (array<map<..>>, struct with a map
    # field), so exclude every dtype whose string mentions map<, not just
    # top-level maps — and a drop-in replacement for stream_stream_join must
    # accept any schema the plain join does (e.g. an events table carrying
    # a props map). key+ts are always present, so the salt never degrades
    # to a constant.
    salt_cols = [c for c, t in left.dtypes if "map<" not in t]
    row_salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salt_buckets)
    ).cast("long")
    all_salts = F.array(*[F.lit(i).cast("long") for i in range(salt_buckets)])
    if hot_keys is None:
        l_salt = row_salt
        r_salts = all_salts
    else:
        # NULL keys fall to the otherwise-branch (isin is NULL on NULL) —
        # harmless, since NULL never equi-joins anyway
        is_hot = F.col(key).isin(list(hot_keys))
        l_salt = F.when(is_hot, row_salt).otherwise(F.lit(0).cast("long"))
        r_salts = F.when(is_hot, all_salts).otherwise(
            F.array(F.lit(0).cast("long"))
        )
    li = left.withWatermark("ts", left_watermark).select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c not in (key, "ts")],
        l_salt.alias("__l_salt"),
    )
    ri = right.withWatermark("ts", right_watermark).select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c not in (key, "ts")],
        F.explode(r_salts).alias("__r_salt"),
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("__l_salt") == F.col("__r_salt"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {within}"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    return li.join(ri, cond, how).drop("__l_salt", "__r_salt")


def windowed_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_aggs: list,
    right_aggs: list,
    key: str = "user_id",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Pre-aggregate-then-join: the recipe that REMOVES a hot key's pair
    product instead of merely spreading it.

    Both streams are aggregated per (key, tumbling event-time window)
    first, then equi-joined on (key, window) — the multiple-stateful-
    operator shape Spark supports natively (window-struct equality
    propagates event time through the join). A rank-1 key contributing
    p·n events per batch to each side costs (p·n)² pairs in the per-event
    join but exactly 1×1 per window here, and join state holds per-window
    AGGREGATES, not per-event buffers — this is the form to reach for
    whenever the downstream consumer wants per-key-per-window statistics
    rather than event pairs (the usual case for the hot keys themselves:
    nobody wants 27M hot-key event pairs, they want the hot key's counts).

    ``left_aggs`` / ``right_aggs``: aliased aggregate Columns (e.g.
    ``F.count("*").alias("l_n")``) — alias every agg; names must not
    collide across sides nor with ``key``/``window_start``/``window_end``
    (validated up front: a collision would otherwise surface only at the
    sink as an ambiguous-reference error). Emission follows append-mode
    aggregation semantics: a window's row emits only after the watermark
    passes its end, i.e. driven forward by LATER data batches (an
    availableNow drain flushes windows the final watermark has passed).

    ``slide`` — SLIDING windows (r9): each event lands in
    ``window/slide`` overlapping windows; both sides slide identically,
    so window-struct equality still drives the equi-join and event time
    still propagates through it. State grows by the same overlap factor
    (each key holds window/slide live aggregate rows instead of 1) —
    still aggregate rows, never per-event buffers. SESSION windows are
    deliberately NOT supported here: a session window's bounds derive
    from each stream's own event gaps, so the "same" session on the two
    sides generally has different (start, end) — window equality would
    silently join only sessions that happen to align exactly. Sessionize
    each stream separately (``sessionize``), persist the closed sessions
    to a sink, and re-read them as a stream into ``session_overlap_join``
    — NOT in one query; see that function's docstring for why the
    persistence boundary is mandatory."""
    import re as _re

    if slide is not None and _re.fullmatch(r"\s*", slide):
        raise ValueError("windowed_stream_join: slide must be a duration string")

    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    lagg = (
        left.withWatermark("ts", watermark)
        .groupBy(w.alias("__w"), F.col(key).alias("l_key"))
        .agg(*left_aggs)
    )
    ragg = (
        right.withWatermark("ts", watermark)
        .groupBy(w.alias("__w"), F.col(key).alias("r_key"))
        .agg(*right_aggs)
    )
    # validate agg names from the ANALYZED schemas (the first 2 columns of
    # each agg frame are the grouping keys, the rest are the aggs) — a
    # Column's repr is not a stable API across Spark versions / Connect,
    # so parsing it could fail open and resurface the collision only at
    # the sink as an ambiguous-reference error
    names = list(lagg.columns[2:]) + list(ragg.columns[2:])
    reserved = {key, "window_start", "window_end", "l_key", "r_key", "__w"}
    seen: set[str] = set()
    for n in names:
        if n in reserved:
            raise ValueError(
                f"windowed_stream_join: agg alias {n!r} collides with a "
                f"reserved output column ({sorted(reserved)})"
            )
        if n in seen:
            raise ValueError(
                f"windowed_stream_join: duplicate agg alias {n!r} across "
                "left_aggs/right_aggs — alias every aggregate uniquely"
            )
        seen.add(n)
    j = lagg.join(
        ragg,
        (F.col("l_key") == F.col("r_key")) & (lagg["__w"] == ragg["__w"]),
        "inner",
    )
    return j.select(
        F.col("l_key").alias(key),
        lagg["__w"].getField("start").alias("window_start"),
        lagg["__w"].getField("end").alias("window_end"),
        *[c for c in j.columns if c not in ("l_key", "r_key", "__w")],
    )


def session_overlap_join(
    left_sessions: DataFrame,
    right_sessions: DataFrame,
    key: str = "user_id",
    left_watermark: str = "2 hours",
    right_watermark: str = "2 hours",
    max_session: str = "2 hours",
    hot_keys: list | None = None,
    salt_buckets: int = 8,
) -> DataFrame:
    """Join two SESSIONIZED streams on per-key session OVERLAP — the
    correct composition ``windowed_stream_join`` refuses to fake with
    window equality (session bounds derive from each stream's own gaps,
    so the "same" session rarely has equal (start, end) on both sides).

    Inputs are ``sessionize`` OUTPUT ROWS — but NOT in the same streaming
    query: Spark rejects ``applyInPandasWithState`` composed with any
    other stateful operator in one query (the rejection is pinned in
    tests/test_streaming.py), so the production composition crosses a
    PERSISTENCE BOUNDARY: ``sessionize`` → parquet/Lake sink → re-read
    the closed sessions as a file-source stream → this join. Any frame
    with ``key``, ``session_start``, ``session_end``, an event-time
    column on ``session_end`` works; only CLOSED sessions join (an open
    session's end still moves — joining it would emit retractable rows,
    which a stream cannot retract). Two sessions of the same key match
    iff their [start, end] intervals intersect:
    ``l_start <= r_end AND r_start <= l_end``.

    ``hot_keys`` — hot-key-scoped salting, the same front-end
    ``salted_stream_stream_join`` grew for the per-event join: a rank-1
    key's session pairs otherwise all flow through ONE state partition
    (the r9 probe leg measured the wall). Listed keys' LEFT sessions get
    a deterministic per-row salt, their RIGHT sessions replicate across
    ``salt_buckets`` (right-side state ×(1 + (salt_buckets−1)·hot_share),
    not a blanket ×buckets), every other key takes salt 0 on both sides,
    and the join adds ``l_salt == r_salt`` — each session pair meets in
    exactly one bucket, so the result is ROW-IDENTICAL to the unsalted
    form for ANY list (stale calibration degrades the spread, never
    correctness; asserted in tests). Salting spreads the hot key's pair
    product and state, it does not shrink them — when per-pair output
    isn't needed, pre-aggregate instead.

    State boundedness is the usual stream-stream discipline: both sides
    carry watermarks on ``session_end``, and ``max_session`` bounds the
    join's time range — a session is joinable only while the other side's
    watermark is within (its end + max_session), because a session's
    START is at most ``max_session`` before its end. Pass the sessionizer
    gap + the longest session you accept; sessions longer than
    ``max_session`` are dropped (counted against no one) rather than
    silently half-joined — filter them upstream if they matter."""
    if hot_keys is not None and len(hot_keys) == 0:
        raise ValueError(
            "session_overlap_join: hot_keys=[] — nothing to salt; pass "
            "hot_keys=None for the plain (unsalted) form"
        )
    if hot_keys is not None and salt_buckets < 2:
        raise ValueError("session_overlap_join: salt_buckets must be >= 2")
    horizon = F.expr(f"INTERVAL {max_session}")
    lcols = [
        F.col(key).alias("l_key"),
        F.col("session_start").alias("l_start"),
        F.col("session_end").alias("l_end"),
        *[
            F.col(c).alias(f"l_{c}")
            for c in left_sessions.columns
            if c not in (key, "session_start", "session_end", "closed")
        ],
    ]
    rcols = [
        F.col(key).alias("r_key"),
        F.col("session_start").alias("r_start"),
        F.col("session_end").alias("r_end"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right_sessions.columns
            if c not in (key, "session_start", "session_end", "closed")
        ],
    ]
    if hot_keys is not None:
        # same salt discipline as salted_stream_stream_join: deterministic
        # row salt (replay-stable) from the hashable columns; NULL keys
        # fall to the otherwise-branch (isin is NULL on NULL) — harmless,
        # NULL never equi-joins
        salt_cols = [c for c, t in left_sessions.dtypes if "map<" not in t]
        row_salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salt_buckets)
        ).cast("long")
        is_hot = F.col(key).isin(list(hot_keys))
        all_salts = F.array(*[F.lit(i).cast("long") for i in range(salt_buckets)])
        lcols.append(
            F.when(is_hot, row_salt).otherwise(F.lit(0).cast("long")).alias(
                "__l_salt"
            )
        )
        rcols.append(
            F.explode(
                F.when(is_hot, all_salts).otherwise(
                    F.array(F.lit(0).cast("long"))
                )
            ).alias("__r_salt")
        )
    li = (
        left_sessions.where(F.col("closed"))
        .where(F.col("session_end") <= F.col("session_start") + horizon)
        .withWatermark("session_end", left_watermark)
        .select(*lcols)
    )
    ri = (
        right_sessions.where(F.col("closed"))
        .where(F.col("session_end") <= F.col("session_start") + horizon)
        .withWatermark("session_end", right_watermark)
        .select(*rcols)
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("l_start") <= F.col("r_end"))
        & (F.col("r_start") <= F.col("l_end"))
        # event-time range bound that makes the state store evictable:
        # start >= end - max_session on both sides, so overlap implies
        # the ends are within max_session of each other
        & (F.col("r_end") >= F.col("l_end") - horizon)
        & (F.col("r_end") <= F.col("l_end") + horizon)
    )
    if hot_keys is not None:
        cond = cond & (F.col("__l_salt") == F.col("__r_salt"))
    j = li.join(ri, cond, "inner")
    return j.drop("__l_salt", "__r_salt") if hot_keys is not None else j


def stream_merge_to_silver(
    events: DataFrame,
    metadata,
    entity_id: int,
    checkpoint: str,
    options: dict | None = None,
    trigger_available_now: bool = True,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Continuous bronze→silver: every micro-batch lands as a bronze slice
    and is immediately merged into the silver table by the batch `Processing`
    pipeline (``foreachBatch`` — the standard Structured Streaming upsert
    pattern, since streaming sinks can't express MERGE directly).

    Exactly-once end to end: the checkpoint gives at-least-once batch
    delivery, the slice write is keyed by ``batch_id`` with mode=overwrite
    (a replayed batch rewrites the same file), and the merge itself is
    idempotent — re-upserting identical rows by PK only touches lastSeen.
    State never accumulates on the stream side; all heavy lifting is the
    same partition-pruned merge the batch path uses, so one code path
    serves both latency modes (Kappa-style).

    For high-frequency micro-batches into a large table pass
    ``options={"write_mode": "mor"}``: each batch then appends only its
    changed rows as a merge-on-read patch (O(batch) write cost instead of
    per-batch bucket rewrites) and auto-compaction folds the patch tail.
    """
    from datalakefoundation_spark.processing import Processing

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        entity = metadata.get_entity(entity_id)
        bronze = entity.get_output().bronzepath.value
        slice_name = f"stream_batch_{batch_id:012d}.parquet"
        batch_df.write.mode("overwrite").option("compression", PARQUET_CODEC).parquet(
            f"{bronze}/{slice_name}"
        )
        Processing(
            batch_df.sparkSession, metadata, entity_id, slice_name, dict(options or {})
        ).process()

    writer = events.writeStream.foreachBatch(_merge_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_to_lake(
    events: DataFrame, bronze_path: str, checkpoint: str, trigger_available_now: bool = True
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Append the stream into a bronze parquet directory that the batch
    Processing pipeline can slice."""
    writer = (
        events.writeStream.format("parquet")
        .option("compression", PARQUET_CODEC)
        .option("path", bronze_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _index_table(spark, index_path: str):
    """The signature-index LakeTable, constructed with __batch_key segment
    stats: every sink append stamps ONE constant non-null key per commit,
    so each appended segment records min == max == its key — replay
    checks and batch-key discovery then read manifests, not data. Tables
    written before this (no stats) degrade to the scan path, never
    wrongly."""
    from datalakefoundation_spark.tables.lake_table import LakeTable

    return LakeTable(spark, index_path, stats_columns=("__batch_key",))


def _index_has_batch_key(index, key: str) -> bool:
    """Has this replay key's append already committed? Pruned read: for an
    append-shaped index the spec keeps at most the one segment whose
    stats match, so the check is O(1) in corpus size (it was a full
    column scan per micro-batch)."""
    from datalakefoundation_spark.tables.lake_table import prune_spec_isin

    df = index.read(prune_spec=prune_spec_isin("__batch_key", [key]))
    if "__batch_key" not in df.columns:
        return False
    return not df.where(F.col("__batch_key") == F.lit(key)).isEmpty()


def _index_batch_keys_from_manifest(index) -> "set[str] | None":
    """The distinct __batch_key set from SEGMENT STATS alone (None = not
    derivable, fall back to the distinct scan). Valid exactly when every
    segment is single-key (min == max — the sink append shape) or
    recorded all-NULL (a batch-seeded segment = the __seed__ sentinel);
    replay-rebuild segments mix keys (min != max) and pre-stats segments
    carry no entry, both of which force the fallback rather than risking
    a wrong key set."""
    mf = index.latest_manifest()
    if mf is None:
        return None
    keys: set[str] = set()
    for seg in mf.segments:
        st = (seg.stats or {}).get("__batch_key")
        if not st:
            return None
        mn, mx = st.get("min"), st.get("max")
        if mn is None and mx is None:
            keys.add("__seed__")
            continue
        if mn != mx:
            return None
        keys.add(mn)
    return keys or None


def stream_dedup_index(
    docs: DataFrame,
    index_path: str,
    checkpoint: str,
    pairs_path: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_size: int = 3,
    trigger_available_now: bool = True,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Continuous near-duplicate detection over a document stream.

    Maintains a MinHash signature index (a LakeTable at ``index_path``)
    via ``foreachBatch``: each micro-batch computes signatures for its own
    documents ONLY, finds candidate pairs against the accumulated index
    with one band join (ext/dedup.py incremental_lsh_candidates — O(batch)
    per batch, never a corpus re-bucketing), optionally appends the pairs
    to ``pairs_path``, then appends the new signatures to the index. The
    union of all batches' pairs equals the from-scratch batch run, so the
    stream is just the incremental evaluation order of the same result —
    the property tests/test_streaming.py asserts.

    Exactly-once across restarts: batches replay at-least-once from the
    checkpoint, so both appends are keyed by (stream id, batch_id) — the
    stream id is derived from the checkpoint location, because foreachBatch
    batch ids restart at 0 for a NEW checkpoint and a raw batch_id key
    would make a second stream's batch 0 look like a replay of the first
    stream's batch 0 and destructively rebuild the index. A replayed batch
    recomputes its pairs against an index that may already contain the
    batch's own signatures — they are excluded from the join side by the
    scoped key before the join, so replays are exact, not just
    row-deduplicated.
    """
    from datalakefoundation_spark.ext.dedup import (
        incremental_lsh_candidates,
        lsh_candidate_pairs,
        minhash_signature,
    )
    from datalakefoundation_spark.tables.lake_table import LakeTable

    stream_id = _stream_id(checkpoint)

    def _index_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        replay_key = f"{stream_id}:{batch_id}"
        # hash_distinct pinned off: micro-batches are churn-sized (far below
        # every measured vocab-hash crossover), and the RDD-backed batch
        # frame has no optimizer size estimate, so the tri-state default
        # would resolve to the vocab plan on every tiny batch
        sigs = minhash_signature(
            batch_df, text_col, id_col, num_hashes, shingle_size, hash_distinct=False
        ).withColumn("__batch_key", F.lit(replay_key))
        # signatures feed BOTH actions below (index commit + pairs write):
        # without a persist the shingle-explode + sha256 lineage — the cost
        # the incremental design amortizes — would execute once per action
        sigs = sigs.persist()
        try:
            index = _index_table(spark, index_path)
            prior = None
            if index.exists():
                stored = index.read()
                prior = stored.where(F.col("__batch_key") != F.lit(replay_key))
            if prior is not None and not prior.isEmpty():
                pairs = incremental_lsh_candidates(
                    prior.drop("__batch_key"),
                    sigs.drop("__batch_key"),
                    id_col,
                    num_hashes,
                    band_size,
                )
            else:  # empty or absent index: the batch only pairs with itself
                pairs = lsh_candidate_pairs(
                    sigs.drop("__batch_key"), id_col, num_hashes, band_size
                )
            if prior is None:
                index.append(sigs)
            elif not _index_has_batch_key(index, replay_key):
                index.append(sigs)
            else:
                # replayed batch already appended its signatures: rebuild
                # the index without them so the CAS-committed state
                # converges to exactly-once (version churn, not dup rows)
                index.overwrite(prior.unionByName(sigs), operation="replay_rebuild")
            if pairs_path is not None:
                # stream-scoped directory: batch ids restart at 0 under a
                # new checkpoint, so keying by batch_id alone would let a
                # second stream sharing pairs_path overwrite prior output
                pairs.withColumn("__batch_key", F.lit(replay_key)).write.mode(
                    "overwrite"
                ).option("compression", PARQUET_CODEC).parquet(
                    f"{pairs_path}/stream={stream_id}/batch_id={batch_id:012d}"
                )
        finally:
            sigs.unpersist()

    writer = docs.writeStream.foreachBatch(_index_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def replay_key_folded(t, replay_key: str, max_back: int = 20) -> bool:
    """True when ``replay_key`` is the most recent fold commit on LakeTable
    ``t`` — the stream_rollup replay check. Walks back from the latest
    manifest to the NEWEST commit carrying a ``__replay_key`` and compares
    there; scanning full history() would read every manifest on every
    batch (O(total commits) per batch, quadratic over the stream's
    lifetime). ``max_back`` bounds the walk past interleaved maintenance
    commits (optimize/vacuum/delete carry no key); a vacuumed-away or
    exhausted walk answers False (older than any replay window)."""
    mf = t.latest_manifest()
    if mf is None:
        return False
    v = mf.version
    for _ in range(max_back):
        if v < 0:
            return False
        try:
            m = mf if v == mf.version else t.manifest_at(v)
        except FileNotFoundError:
            return False
        rk = (m.metrics or {}).get("__replay_key")
        if rk is not None:
            return rk == replay_key
        v -= 1
    return False


def stream_rollup(
    events: DataFrame,
    tables: dict,
    checkpoint: str,
    ts_us_col: str = "ts_us",
    key_cols: tuple = ("event_type",),
    value_col: str = "value",
    trigger_available_now: bool = True,
    distinct_col: str | None = None,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Continuous-aggregate head: fold an insert-only event stream into a
    LakeTable rollup ladder (``ext.rollup``) via ``foreachBatch``. The
    partial states are commutative monoids, so each micro-batch folds as
    one union + re-agg of batch-sized inputs per level
    (``fold_rollup_inserts``) — no raw-table scan, write cost ∝ batch.

    Exactly-once across restarts: foreachBatch replays at-least-once, and
    a replayed batch may have already folded SOME levels (a crash between
    level commits). Each level's commit is stamped with a
    (stream-id, batch-id) replay key in its manifest metrics; on replay,
    stamped levels are skipped, so every level converges to exactly one
    fold per batch. The stream id derives from the checkpoint location
    (batch ids restart at 0 for a new checkpoint — a raw batch_id key
    would alias streams). Replay keys live in manifest history: vacuum
    retention must cover the checkpoint-recovery horizon (it does by
    default — retention is hours, recovery replays the last batch)."""
    from datalakefoundation_spark.ext.rollup import fold_rollup_inserts

    stream_id = _stream_id(checkpoint)

    def _fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        replay_key = f"{stream_id}:{batch_id}"
        skip = tuple(
            w
            for w, t in tables.items()
            if t.exists() and replay_key_folded(t, replay_key)
        )
        fold_rollup_inserts(
            batch_df,
            tables,
            ts_us_col,
            tuple(key_cols),
            value_col,
            commit_metrics={"__replay_key": replay_key},
            skip_levels=skip,
            distinct_col=distinct_col,
        )

    writer = events.writeStream.foreachBatch(_fold_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_clean_corpus(
    docs: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    clean_kwargs: dict | None = None,
    trigger_available_now: bool = True,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """The full cleaning recipe as a continuous ingest pipeline — the
    steady-state shape of a 100 TB training-data corpus, where documents
    arrive forever and each batch must be cleaned against EVERYTHING seen
    before, in O(batch).

    Each micro-batch runs ``ext.recipes.clean_corpus`` with
    ``near_dedup_index=`` the accumulated signature index (a LakeTable at
    ``index_path``): the per-document stages (quality, Gopher, PII,
    decontamination, perplexity) are stateless projections; within-batch
    exact dedup is the recipe's own stage; CROSS-batch duplicates — exact
    and near — fall out of the incremental near-dedup join, because a
    verbatim copy shares every MinHash band with its indexed original and
    loses to it the same way a near-dup does. Survivors land under
    ``out_path``; the batch's signatures (losers included — see
    clean_corpus) are appended to the index for the next batch.

    Equivalence contract (asserted in tests/test_streaming.py at fixture
    scale and in tools/stream_ingest_probe.py at 1M docs): with
    ingest-ordered ids (later batches carry larger ``id_col`` values, the
    natural shape for an append-only feed), the streamed survivor set is
    PREFIX-CONSISTENT with the from-scratch ``clean_corpus``:

    * every from-scratch survivor IS a streamed survivor (exact — a
      component's global-min id never loses under ingest-ordered ids);
    * the streamed set may additionally keep the earlier survivors of
      clusters that a LATER document bridged (batch k emits survivors a
      and b of then-separate clusters; batch k+1's doc connects them; the
      from-scratch run keeps only min(a,b), but a stream cannot retract
      an already-emitted survivor — measured 0.9% excess at 1M docs under
      heavily planted near-dup structure, tools/stream_ingest_probe.py).

    When exact batch parity matters, run a periodic doc-level dedup
    compaction over the accumulated survivors — it converges to the
    from-scratch set because every needed edge is reachable through the
    standing index's retained loser signatures.

    Exactly-once across restarts, same discipline as ``stream_dedup_index``:
    foreachBatch replays at-least-once, so both effects are keyed by
    (stream id, batch id) — the survivor write is an idempotent overwrite
    of a per-batch directory, and a replayed batch's signatures are
    excluded from the index join side by the scoped key and folded back
    via a converging rebuild instead of a duplicate append. The stream id
    derives from the checkpoint location (batch ids restart at 0 for a new
    checkpoint). ``clean_kwargs`` must not contain ``near_dedup_index`` or
    ``near_dedup`` (the pipeline owns them) nor ``span_dedup_size`` (span
    ownership is cross-document — batch post-pass only, rejected below); a
    ``benchmark``/``lm`` entry must be a static (batch) DataFrame —
    Structured Streaming forbids a second stream inside foreachBatch
    anyway. Read survivors via ``read_clean_corpus_output`` — ``out_path``
    accumulates one ``stream=<id>`` subtree per checkpoint generation.

    Leave the corpus-GLOBAL calibrations — ``perplexity`` (threshold
    tuned on a corpus percentile) and ``mixture`` (strata proportions) —
    OUT of ``clean_kwargs``: per-batch they gate against the wrong
    distribution (a batch can lose whole strata, which mixture_sample
    correctly rejects). Apply them as a batch post-pass over the
    accumulated ``out_path`` output instead; the per-document gates and
    the index-coupled dedup are what belong in the continuous path.
    """
    from datalakefoundation_spark.ext.recipes import clean_corpus
    from datalakefoundation_spark.tables.lake_table import LakeTable

    kwargs = dict(clean_kwargs or {})
    for owned in ("near_dedup_index", "near_dedup"):
        if owned in kwargs:
            raise ValueError(
                f"stream_clean_corpus: clean_kwargs[{owned!r}] is owned by "
                "the pipeline (the standing index IS the near-dedup state)"
            )
    if kwargs.get("span_dedup_size") is not None:
        # span ownership is CROSS-document: a later batch would keep token
        # spans that an earlier batch's surviving doc already owns, so the
        # streamed-union == from-scratch clean_corpus equivalence silently
        # breaks. Like perplexity/mixture, span dedup is a batch post-pass
        # over the accumulated output — reject it here rather than let the
        # contract rot quietly.
        raise ValueError(
            "stream_clean_corpus: span_dedup_size is cross-document "
            "(span ownership spans batches) — run ext.dedup.span_dedup as "
            "a batch post-pass over the accumulated out_path output"
        )
    kwargs["text_col"] = kwargs.get("text_col", text_col)
    kwargs["id_col"] = kwargs.get("id_col", id_col)
    stream_id = _stream_id(checkpoint)

    def _clean_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        replay_key = f"{stream_id}:{batch_id}"
        index = _index_table(spark, index_path)
        prior = stored = None
        if index.exists():
            stored = index.read()
            if "__batch_key" not in stored.columns:
                # index bootstrapped from a BATCH run's CleanResult.
                # index_updates (the X50 cold-build flow): those rows carry
                # no replay key. Stamp a sentinel so they count as prior
                # for every micro-batch instead of dying on a missing
                # column at the first filter.
                stored = stored.withColumn("__batch_key", F.lit("__seed__"))
            else:
                # once the stream's first append adds the column, the
                # batch-seeded rows read back as NULL (schema evolution);
                # NULL != key is NULL, which would silently drop the whole
                # seed from the prior side — coalesce them to the sentinel
                stored = stored.withColumn(
                    "__batch_key",
                    F.coalesce(F.col("__batch_key"), F.lit("__seed__")),
                )
            prior = stored.where(F.col("__batch_key") != F.lit(replay_key))
            if prior.isEmpty():
                prior = None
        res = clean_corpus(
            batch_df,
            near_dedup=True,
            near_dedup_index=(
                prior.drop("__batch_key") if prior is not None else None
            ),
            **kwargs,
        )
        try:
            # survivors first, index second: a crash between the two replays
            # the batch, overwrites the same survivor directory with the
            # same rows (the index join excluded this replay's own
            # signatures), and the index append then lands exactly once
            res.df.write.mode("overwrite").option("compression", PARQUET_CODEC).parquet(
                f"{out_path}/stream={stream_id}/batch_id={batch_id:012d}"
            )
            sigs = res.index_updates.withColumn("__batch_key", F.lit(replay_key))
            if stored is None:
                index.append(sigs)
            elif not _index_has_batch_key(index, replay_key):
                index.append(sigs)
            else:  # replay after a post-append crash: converge, don't dup
                base = prior if prior is not None else stored.limit(0)
                index.overwrite(
                    base.unionByName(sigs), operation="replay_rebuild"
                )
        finally:
            res.unpersist()

    writer = docs.writeStream.foreachBatch(_clean_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _banded_read_fraction(t, spec) -> float:
    """Fraction of the companion's files a ``prune_spec`` would still
    read — the banded path's price tag, from manifest stats alone
    (driver-side bisects, no data I/O). ``spec=None`` prices as 1.0;
    segments without per-file stats count as fully read (conservative)."""
    from datalakefoundation_spark.tables.lake_table import segment_may_match

    if spec is None:
        return 1.0
    kept = total = 0
    mf = t.latest_manifest()
    if mf is None:
        return 1.0
    for seg in mf.segments:
        files = seg.files or {}
        if not files:  # no per-file stats: whole segment reads
            kept += 1
            total += 1
            continue
        for _p, st in files.items():
            total += 1
            if segment_may_match(st, spec):
                kept += 1
    return kept / total if total else 1.0


def reconcile_clean_corpus(
    spark,
    out_path: str,
    index_path: str,
    checkpoint: str,
    assignment_path: str,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    auto_compact_segments: int = 16,
    banded_index_path: str | None = None,
    band_cluster_files: int = 128,
    recluster_segments: int = 32,
    max_prune_keys: int = 1 << 20,
    banded_max_read_fraction: float = 0.5,
) -> DataFrame:
    """Periodic X55 compaction wired to a ``stream_clean_corpus`` pipeline:
    converge the accumulated streamed survivors to the from-scratch batch
    set at O(churn-since-last-reconcile), maintaining the clustering state
    in a LakeTable at ``assignment_path``.

    Frontier tracking is BATCH-KEYED and crash-atomic: the signature
    index's rows carry ``__batch_key`` (stream id : batch id), and the
    assignment table's latest manifest records which keys have been
    reconciled (``__reconciled_keys`` metric) — updated in the SAME
    commit as the assignment patch, so there is no window where the
    ledger and the state disagree. A replayed reconcile sees its keys
    already recorded, derives an empty frontier, and no-ops (nothing is
    committed). Batch-seeded index rows (the ``__seed__`` sentinel) are
    reconciled like any other key.

    First call bootstraps: full ``cluster_assignment`` over the index
    (O(corpus), once). Steady state: ``reconcile_survivors_frontier``
    over the unreconciled batches' signatures, then ``merge_patch`` of
    the churn-sized updates (write cost ∝ churn; reads pay a broadcast
    mask join until the table's auto-compaction folds the patches).
    Returns the reconciled survivors — the streamed output minus every
    newly-bridged loser — computed against the FULL post-reconcile
    assignment, so feeding the raw accumulated ``out_path`` (which still
    contains earlier rounds' losers) stays correct.

    ``banded_index_path`` (r10 directive #1) — maintain a band-exploded
    COMPANION LakeTable ((id, band_idx, band_key, __batch_key) rows)
    range-CLUSTERED on ``band_key`` (``band_cluster_files`` files, per-file
    stats on the key), and feed the frontier band join from it with a
    ``prune_spec_isin`` on the frontier's distinct band keys: files whose
    key range contains no frontier key are never read. The steady-state
    maintenance is churn-sized (append the frontier's band rows each
    reconcile; re-cluster only when the unclustered tail outgrows
    ``recluster_segments``); the one-time build rides whichever O(corpus)
    event happens anyway (bootstrap, or enablement on an existing
    deployment). Skipping effectiveness is GEOMETRY-dependent: it needs
    file count >> the churn's distinct band keys (the 100 TB shape:
    ~1e6 files vs ~2e5 keys; measured in tools/frontier_reconcile_probe
    --banded), so at small file counts this is a no-worse fallback, not a
    win. Crash ordering: companion append lands BEFORE the assignment/
    ledger commit; on replay the companion read filters the frontier's
    own batch keys, so a half-done cycle converges exactly. Results are
    row-identical with and without the companion (asserted in tests).
    Frontiers with more than ``max_prune_keys`` distinct band keys skip
    the prune (the spec would not skip anything at that density).

    The banded read is SELF-PRICING (``banded_max_read_fraction``, same
    discipline as the LSH band planner): the prune decision is evaluated
    against the manifest's per-file stats FIRST — driver-side bisects, no
    data I/O — and if more than the given fraction of companion files
    would still be read, this cycle falls back to the inline band join
    (the 1M probe measured the 4x-row rescan at 100% read strictly losing
    to inline banding — r9's declined trade; the companion is still
    maintained, so future sparse frontiers keep their fast path). Set it
    to 1.0 to force the companion read regardless."""
    from datalakefoundation_spark.ext.dedup import band_explode
    from datalakefoundation_spark.ext.recipes import (
        cluster_assignment,
        reconcile_survivors_frontier,
    )
    from datalakefoundation_spark.tables.lake_table import (
        LakeTable,
        prune_spec_isin,
    )

    def _banded_table() -> "LakeTable | None":
        if banded_index_path is None:
            return None
        t = LakeTable(spark, banded_index_path, stats_columns=("band_key",))
        t.file_stats_max_files = max(t.file_stats_max_files, band_cluster_files)
        return t

    def _banded_write_all(t: "LakeTable", keys: "set[str]", src) -> None:
        """(Re)build the companion from the index rows of ``keys`` and
        cluster it — the O(corpus) enablement/bootstrap path. The commit
        carries the same compacted key-watermark ledger the assignment
        table uses, so idempotence reads manifests, not data."""
        rows = src.where(F.col("__batch_key").isin(sorted(keys)))
        bands = (
            band_explode(rows, id_col, num_hashes, band_size)
            .join(rows.select(id_col, "__batch_key"), id_col)
            # write pre-clustered (what optimize(cluster_by=...) would do,
            # minus the second full write): range partitioning + in-file
            # sort give each file a narrow band_key range for the stats
            .repartitionByRange(band_cluster_files, "band_key")
            .sortWithinPartitions("band_key")
        )
        t.overwrite(
            bands, operation="band_index_build", metrics=_compact(set(keys))
        )

    def _banded_keys_done(t: "LakeTable") -> "callable":
        """done(key) from the companion's newest ledger-bearing commit —
        the assignment table's walk-back discipline (maintenance commits
        carry no ledger; skip past them)."""
        done = _ledger_done({})
        mf = t.latest_manifest()
        if mf is None:
            return done
        v = mf.version
        for _ in range(50):
            if v < 0:
                break
            try:
                m = mf if v == mf.version else t.manifest_at(v)
            except FileNotFoundError:
                break
            mm = m.metrics or {}
            if "__reconciled_watermarks" in mm or "__reconciled_keys" in mm:
                return _ledger_done(mm)
            v -= 1
        return done

    def _banded_append_frontier(t: "LakeTable", fkeys: "list[str]") -> None:
        """Churn-sized companion maintenance, idempotent by the commit
        ledger (a replayed cycle sees its keys recorded and no-ops — no
        data read; the old row-existence check scanned the
        bootstrap-sized segment every reconcile)."""
        done = _banded_keys_done(t)
        # append ONLY the not-yet-done keys: after a crash between the
        # companion append and the assignment-ledger commit, new stream
        # batches can grow the frontier — re-appending the already-landed
        # keys' bands would permanently duplicate companion rows
        # (correctness would survive via the candidates' distinct(), but
        # companion size and join cost would grow on every such replay)
        pend = [k for k in fkeys if not done(k)]
        if not pend:
            return  # replayed cycle: bands already landed
        bands = band_explode(
            frontier_sigs, id_col, num_hashes, band_size
        ).join(
            frontier_src.where(F.col("__batch_key").isin(pend)).select(
                id_col, "__batch_key"
            ),
            id_col,
        )
        t.append(bands, metrics=_compact(set(all_keys)))
        if len(t.latest_manifest().segments) > recluster_segments:
            # the unclustered tail outgrew the threshold: one O(corpus)
            # re-sort restores the skipping geometry (amortized — the
            # tail between re-clusters is bounded by the threshold; the
            # optimize commit carries no ledger, the walk-back skips it)
            t.optimize(
                cluster_by=["band_key"], target_partitions=band_cluster_files
            )

    survivors = read_clean_corpus_output(spark, out_path, checkpoint)
    index = _index_table(spark, index_path)
    idx = index.read()
    if "__batch_key" not in idx.columns:
        idx = idx.withColumn("__batch_key", F.lit("__seed__"))
    else:
        idx = idx.withColumn(
            "__batch_key", F.coalesce(F.col("__batch_key"), F.lit("__seed__"))
        )
    all_keys = _index_batch_keys_from_manifest(index) or {
        r["__batch_key"] for r in idx.select("__batch_key").distinct().collect()
    }  # manifest-derived when every segment is single-key (the append
    # shape) — O(segments) driver work; else one column-pruned scan,
    # bounded by the number of micro-batches in distinct values

    # The ledger is stored COMPACTED: batch ids are sequential per stream
    # generation and a reconcile always drains every unprocessed key, so
    # "done" per generation is a prefix — one watermark per stream id
    # (plus a seed flag) instead of an ever-growing key list. A stream
    # that runs for years of micro-batches keeps the ledger at
    # O(generations), not O(batches), in every manifest. An id gap (an
    # empty micro-batch appends no index rows) is safely covered by the
    # watermark: a key with no index rows has nothing to reconcile.
    def _ledger_done(metrics: dict) -> "callable":
        wm = dict(metrics.get("__reconciled_watermarks", {}))
        seed_done = bool(metrics.get("__seed_reconciled", False))
        legacy = set(metrics.get("__reconciled_keys", []))  # pre-compaction

        def done(key: str) -> bool:
            if key in legacy:
                return True
            if key == "__seed__":
                return seed_done
            sid, _, bid = key.rpartition(":")
            return sid in wm and bid.isdigit() and int(bid) <= int(wm[sid])

        return done

    def _compact(keys: set) -> dict:
        wm: dict[str, int] = {}
        seed = False
        for key in keys:
            if key == "__seed__":
                seed = True
                continue
            sid, _, bid = key.rpartition(":")
            if bid.isdigit():
                wm[sid] = max(wm.get(sid, -1), int(bid))
        out: dict = {"__reconciled_watermarks": wm}
        if seed:
            out["__seed_reconciled"] = True
        return out

    banded = _banded_table()
    table = LakeTable(spark, assignment_path)
    if not table.exists():
        assignment = cluster_assignment(
            idx.drop("__batch_key"), id_col, num_hashes, band_size
        )
        if banded is not None:
            # companion BEFORE the ledger-bearing commit: a crash between
            # the two replays the bootstrap, whose overwrite is idempotent
            _banded_write_all(banded, all_keys, idx)
        table.overwrite(assignment, metrics=_compact(all_keys))
        losers = assignment.where(F.col("node") != F.col("cluster_id")).select(
            F.col("node").alias(id_col)
        )
        return survivors.join(losers, id_col, "left_anti")
    # the ledger lives on the newest commit that CARRIES it — interleaved
    # maintenance commits (optimize/vacuum/compaction) record no metrics,
    # so walk back past them (same discipline as replay_key_folded)
    is_done = _ledger_done({})
    mf = table.latest_manifest()
    v = mf.version
    for _ in range(50):
        if v < 0:
            break
        try:
            m = mf if v == mf.version else table.manifest_at(v)
        except FileNotFoundError:  # vacuumed past: ledger lost
            break
        mm = m.metrics or {}
        if (
            "__reconciled_watermarks" in mm
            or "__reconciled_keys" in mm  # pre-compaction format, still read
        ):
            is_done = _ledger_done(mm)
            break
        v -= 1
    # a lost/exhausted ledger degrades to re-frontiering every batch —
    # WASTEFUL but safe: re-deriving edges whose docs the assignment
    # already covers contracts them to their existing labels, so the
    # reduced graph's merges are idempotent and updates converge to empty
    frontier_keys = sorted(k for k in all_keys if not is_done(k))
    prior = table.read().select("node", "cluster_id")
    if not frontier_keys:  # replay or no new batches: a pure no-op
        losers = prior.where(F.col("node") != F.col("cluster_id")).select(
            F.col("node").alias(id_col)
        )
        return survivors.join(losers, id_col, "left_anti")
    # churn-sized extraction: segment stats prune the read to the
    # frontier's own appends (conservative on stat-less segments; the
    # row filter below stays exact either way)
    from datalakefoundation_spark.tables.lake_table import prune_spec_isin as _psi

    if "__seed__" in frontier_keys:
        # degraded-ledger path: seed rows may be STORED as physical NULLs
        # in a segment with recorded (all-NULL) stats — an isin spec on
        # '__seed__' would prune exactly those segments before the
        # coalesce-to-sentinel below, silently dropping seed rows from the
        # frontier. No spec can safely express "NULL or absent", so read
        # unpruned (wasteful but correct, like the rest of this path).
        frontier_src = index.read()
    else:
        frontier_src = index.read(
            prune_spec=_psi("__batch_key", sorted(frontier_keys))
        )
    if "__batch_key" not in frontier_src.columns:
        frontier_src = frontier_src.withColumn("__batch_key", F.lit("__seed__"))
    else:
        frontier_src = frontier_src.withColumn(
            "__batch_key", F.coalesce(F.col("__batch_key"), F.lit("__seed__"))
        )
    frontier_sigs = frontier_src.where(
        F.col("__batch_key").isin(frontier_keys)
    ).drop("__batch_key")
    prior_banded = None
    if banded is not None:
        if not banded.exists():
            done_keys = set(all_keys) - set(frontier_keys)
            if done_keys:  # enablement on an existing deployment: one
                # O(corpus) build of the already-reconciled batches' bands
                _banded_write_all(banded, done_keys, idx)
        if banded.exists():
            fb = band_explode(
                frontier_sigs, id_col, num_hashes, band_size
            ).select("band_key").distinct()
            spec = None
            if fb.count() <= max_prune_keys:
                spec = prune_spec_isin(
                    "band_key", [r["band_key"] for r in fb.collect()]
                )
            frac = _banded_read_fraction(banded, spec)
            if frac <= banded_max_read_fraction:
                prior_banded = (
                    banded.read(prune_spec=spec)
                    .where(~F.col("__batch_key").isin(frontier_keys))
                    .drop("__batch_key")
                )
            # else: the prune wouldn't pay for the exploded-row rescan —
            # this cycle takes the inline band join; the companion is
            # still maintained below for future sparse frontiers
    fr = reconcile_survivors_frontier(
        survivors,
        idx.drop("__batch_key"),
        frontier_sigs,
        prior,
        id_col,
        num_hashes,
        band_size,
        prior_banded=prior_banded,
    )
    if banded is not None:
        # companion maintenance BEFORE the ledger commit (crash => replay:
        # the pruned read above filtered the frontier's own keys, and the
        # append is idempotent by batch key)
        if banded.exists():
            _banded_append_frontier(banded, frontier_keys)
        else:  # ledger-degraded path with no done keys: build from scratch
            _banded_write_all(banded, all_keys, idx)
    # compact over EVERYTHING now processed (all index keys are either
    # previously done or in this frontier) — the new ledger supersedes any
    # legacy list format it may have been read from
    new_ledger = _compact(all_keys)
    patched = table.merge_patch(
        fr.updates, keys=["node"], metrics=new_ledger,
        operation="frontier_reconcile",
    )
    if patched == 0:
        # pair-less new batches: merge_patch skips empty patches entirely,
        # so record the ledger advance with an empty append — otherwise
        # those batches would re-enter the frontier on every reconcile
        table.append(fr.updates.limit(0), metrics=new_ledger)
    elif (
        auto_compact_segments
        and len(table.latest_manifest().segments) > auto_compact_segments
    ):
        # the assignment table is maintained OUTSIDE the Processing loop,
        # so it needs its own patch-tail fold: every reconcile appends one
        # churn-sized patch, and reads scan one more segment per patch —
        # fold the small-segment tail once it outgrows the threshold (the
        # same incremental compaction the batch pipeline auto-runs). The
        # compaction commit carries no ledger metrics; the walk-back
        # ledger read skips past it by design.
        table.compact_small_segments()
    # filter against the FULL assignment (prior + updates), not just this
    # round's losers: the raw out_path still carries earlier rounds'
    # absorbed losers
    losers = fr.assignment.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return survivors.join(losers, id_col, "left_anti")


def finalize_corpus(
    spark,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    reconcile: tuple[str, str] | None = None,
    span_dedup_size: int | None = None,
    min_tokens: int = 10,
    perplexity: tuple[DataFrame, DataFrame, float] | None = None,
    mixture: tuple[str, dict[str, float]] | None = None,
) -> DataFrame:
    """The batch POST-PASS companion to ``stream_clean_corpus`` — exactly
    the stages the continuous pipeline documents as corpus-global and
    refuses to run per-batch, packaged in the canonical order:

    1. ``reconcile=(index_path, assignment_path)`` — converge the
       accumulated survivors to the from-scratch batch set first
       (``reconcile_clean_corpus``, O(churn-since-last-reconcile)), so
       the global stages below never spend budget on soon-to-be-dropped
       bridged extras;
    2. ``span_dedup_size`` — substring-level span ownership is
       CROSS-document and cross-batch (the reason stream_clean_corpus
       rejects it inline): rewrite later documents to strip token spans
       an earlier doc owns, then re-apply the ``min_tokens`` floor so
       downstream stages never see gutted husks (same discipline as
       clean_corpus stage 5);
    3. ``perplexity=(uni, bi, max_ppl)`` — the CCNet-style LM gate,
       trained on a REFERENCE corpus; per-batch it would gate against
       the wrong distribution;
    4. ``mixture=(strata_col, weights)`` — deterministic mixture
       sampling; per-batch a batch can lose whole strata, which
       mixture_sample correctly rejects.

    Every stage is optional and skipped when its argument says so; the
    result is the training-ready corpus frame (lazy — write it where the
    trainer reads). Run this when a corpus SNAPSHOT is cut, not per
    micro-batch; the per-document gates and index-coupled dedup already
    ran in the continuous path."""
    from datalakefoundation_spark.ext import dedup as _D
    from datalakefoundation_spark.ext import text as _TX

    if reconcile is not None:
        index_path, assignment_path = reconcile
        cur = reconcile_clean_corpus(
            spark, out_path, index_path, checkpoint, assignment_path,
            id_col=id_col,
        )
    else:
        cur = read_clean_corpus_output(spark, out_path, checkpoint)
    if span_dedup_size is not None:
        rewritten = _D.span_dedup(
            cur, text_col=text_col, id_col=id_col, span_size=span_dedup_size
        ).select(id_col, "clean_text")
        cur = (
            cur.drop(text_col)
            .join(rewritten, id_col)
            .withColumnRenamed("clean_text", text_col)
        )
        cur = cur.where(_TX.token_count(text_col) >= F.lit(min_tokens))
    if perplexity is not None:
        from datalakefoundation_spark.ext.lm import perplexity_filter

        uni, bi, max_ppl = perplexity
        cur = perplexity_filter(
            cur, uni, bi, max_ppl, text_col=text_col, id_col=id_col
        )
    if mixture is not None:
        from datalakefoundation_spark.ext.sampling import mixture_sample

        strata_col, weights = mixture
        cur = mixture_sample(
            cur, key_col=id_col, strata_col=strata_col, weights=weights
        )
    return cur


def read_clean_corpus_output(spark, out_path: str, checkpoint: str) -> DataFrame:
    """Read the survivors of the CURRENT stream generation only.

    ``out_path`` is per-pipeline-generation: survivor directories are laid
    out as ``stream=<id>/batch_id=<n>`` where the id derives from the
    checkpoint location. The idempotent-overwrite (exactly-once) guarantee
    holds WITHIN one checkpoint's stream id — restarting with a NEW
    checkpoint restarts batch ids at 0 under a new id and leaves earlier
    generations' directories in place, so a plain ``read.parquet(out_path)``
    would double-count documents across generations. Always scope reads to
    the generation, i.e. use this helper (or clean up retired ``stream=``
    subdirectories when retiring their checkpoints).

    Pre-normalization checkpoints (see the migration note on
    ``_stream_id``): when the spelling was non-canonical the old id hashed
    the raw string, so this probes the legacy ``stream=<id>`` subtree as a
    fallback. A deployment upgraded MID-STREAM owns both subtrees (old
    batches under the legacy id, new ones under the normalized id); the
    union drops legacy batch ids that the normalized subtree also carries,
    because a post-upgrade replay of a pre-upgrade batch rewrites that
    batch under the NEW id — keeping both copies would double-count it."""
    candidates = _stream_id_candidates(checkpoint)
    dirs = [f"{out_path}/stream={sid}" for sid in candidates]
    existing = [d for d in dirs if _hadoop_path_exists(spark, d)]
    if len(existing) != 2:
        # none → read the primary path so the caller sees the standard
        # path-not-found AnalysisException naming the CURRENT id
        return spark.read.parquet(existing[0] if existing else dirs[0])
    cur = spark.read.parquet(existing[0])
    legacy = spark.read.parquet(existing[1])
    replayed = cur.select("batch_id").distinct()
    return cur.unionByName(legacy.join(replayed, "batch_id", "left_anti"))


def _hadoop_path_exists(spark, path: str) -> bool:
    """Scheme-aware existence probe (local paths AND remote URIs) via the
    session's Hadoop FileSystem — os.path only answers for local paths."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))
