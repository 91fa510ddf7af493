"""Load strategies: Full, Merge (upsert + soft-delete inference), Historic (SCD2).

Reference semantics: Full.scala:19-77, Merge.scala:22-148, Historic.scala:14-168.
The reference drives Delta Lake's MERGE builder; this environment has no Delta
jars, so the same clause semantics are expressed as pure
``(target, source) -> new_state`` DataFrame functions — exactly what a
copy-on-write MERGE does physically; the storage layer
(tables/lake_table.py) adds partition pruning so only affected partitions
are rewritten.

Scale notes (100 TB):
* Joins key on the PK hash — a sha256 hex string, uniformly distributed,
  so no key skew by construction.
* Target is pre-filtered to the source slice's partitions (IN-list pushdown,
  reference Merge.scala:38-48) before the join; untouched partitions are not
  read at all.
* The source slice is typically tiny vs the target, so the state is built
  from two joins that let the slice broadcast: ``target LEFT JOIN source``
  (matched + target-only rows; AQE broadcasts the slice, so the TARGET IS
  NEVER SHUFFLED) unioned with ``source LEFT ANTI JOIN target(pk)`` (the
  inserts; the anti join's target side is a pk-only projection, so even
  its sort-merge fallback shuffles one 64-char column instead of every
  target column). A single full-outer join could never broadcast. Neither
  join is ever hinted to shuffled-hash, so no plan builds an unspillable
  hash map from an unbounded side.
* No Python UDFs; every clause is a ``when`` chain inside whole-stage codegen.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_logger = logging.getLogger(__name__)

from datalakefoundation_spark.pipeline import VALID_TO_SENTINEL, ts_lit  # noqa: F401


def _nvl_pick(cond: Column, a: Column, b: Column) -> Column:
    return F.when(cond, a).otherwise(b)


def _infer_delete_cond(
    delete_missing: bool, delete_window: Column | None, tgt_only: Column, deleted_c: str
) -> Column:
    """Delete-inference predicate, with the reference's safe default: when no
    window condition could be built (no watermarks configured, or bounds
    missing), delete inference is SKIPPED entirely rather than widened to the
    whole table — one small slice must never mass soft-delete a target
    (ProcessStrategy.scala:100-112 returns None and the merge omits
    whenNotMatchedBySource)."""
    if not delete_missing:
        return F.lit(False)
    if delete_window is None:
        _logger.warning(
            "delete_missing=True but no delete window could be built; "
            "skipping delete inference (safe default, ProcessStrategy.scala:100-112)"
        )
        return F.lit(False)
    return tgt_only & delete_window & ~F.col(f"t.{deleted_c}")


def _output_columns(
    target: DataFrame, source: DataFrame, extra_columns
) -> list[str]:
    """Output schema of a merge: the target's columns, plus (opt-in
    additive schema evolution — Delta ``mergeSchema`` analog) source
    columns named in ``extra_columns`` that the target lacks. Rows that
    don't take the source side carry typed NULLs for evolved columns."""
    out = list(target.columns)
    for c in extra_columns or ():
        if c not in out and c in source.columns:
            out.append(c)
    return out


def merge_state(
    target: DataFrame,
    source: DataFrame,
    pk: str,
    prefix: str = "",
    processing_time: str = "1970-01-01 00:00:00",
    delete_window: Column | None = None,
    delete_missing: bool = False,
    with_action_column: bool = False,
    extra_columns=(),
) -> DataFrame:
    """Post-merge state of the 4-clause Delta merge J1-J5 (Merge.scala:96-125).

    Clause order (first match wins, like Delta):
      1. matched & source.deleted            -> target row, deleted=true, lastSeen=src
      2. matched & SourceHash differs        -> source row (updateAll)
      3. matched (hash equal)                -> target row, lastSeen=src (touch)
      4. not matched in target & !src.deleted-> insert source row
      5. not matched by source & window & !target.deleted & delete_missing
                                             -> target row, deleted=true, lastSeen=now
      else                                   -> target row unchanged

    ``delete_window`` is a predicate over TARGET columns scoping delete
    inference (watermark window + partition IN-list, ProcessStrategy.scala:86-153).

    Built as target LEFT JOIN source + source ANTI target(pk) (module
    docstring).
    """
    deleted_c = f"{prefix}deleted"
    lastseen_c = f"{prefix}lastSeen"
    hash_c = f"{prefix}SourceHash"
    out_cols = _output_columns(target, source, extra_columns)

    t = target.alias("t")
    s = source.alias("s")

    # --- part 1: target LEFT JOIN source — matched + target-only rows.
    # The slice sits on the broadcastable (right) side, so AQE turns this
    # into a BroadcastHashJoin for any normally-sized slice: the target is
    # scanned, never shuffled.
    part1 = t.join(s, F.col(f"t.{pk}") == F.col(f"s.{pk}"), "left")

    matched = F.col(f"s.{pk}").isNotNull()
    tgt_only = F.col(f"s.{pk}").isNull()

    src_deleted = F.col(f"s.{deleted_c}")
    hash_differs = F.col(f"s.{hash_c}") != F.col(f"t.{hash_c}")

    infer_delete = _infer_delete_cond(delete_missing, delete_window, tgt_only, deleted_c)

    take_source_row = matched & ~src_deleted & hash_differs

    projections = []
    for c in out_cols:
        # a target column missing from the source (schema drift, already
        # warned about upstream) keeps its target value on updated rows —
        # NULLing it would silently destroy data the source never carried;
        # an EVOLVED column (additive schema evolution) has no target side
        # and reads as a typed NULL wherever the source row isn't taken
        if c in target.columns:
            tc = F.col(f"t.{c}")
        else:
            tc = F.lit(None).cast(source.schema[c].dataType)
        sc = F.col(f"s.{c}") if c in source.columns else tc
        if c == deleted_c:
            col = (
                F.when(matched & src_deleted, F.lit(True))
                .when(take_source_row, sc)
                .when(infer_delete, F.lit(True))
                .otherwise(tc)
            )
        elif c == lastseen_c:
            col = (
                F.when(matched, sc)  # all three matched clauses set lastSeen from source
                .when(infer_delete, ts_lit(processing_time))
                .otherwise(tc)
            )
        else:
            col = _nvl_pick(take_source_row, sc, tc)
        projections.append(col.alias(c))
    if with_action_column:
        projections.append(
            F.when(matched & src_deleted, F.lit("soft_delete"))
            .when(matched & hash_differs, F.lit("update"))
            .when(matched, F.lit("touch"))
            .when(infer_delete, F.lit("infer_delete"))
            .otherwise(F.lit("keep"))
            .alias("__action")
        )
    part1 = part1.select(*projections)

    # --- part 2: source-only rows (the insert clause, Merge.scala:109).
    # The anti join's right side is a pk-only projection of the target, so
    # even when both sides are too big to broadcast, the shuffle moves one
    # 64-char column, not every target column.
    inserts = s.join(t.select(F.col(f"t.{pk}")), on=pk, how="left_anti")
    if not with_action_column:
        inserts = inserts.where(~F.col(deleted_c))
    ins_proj = []
    for c in out_cols:
        if c in source.columns:
            col = F.col(c)
        else:
            # an insert has no target side: a typed NULL
            col = F.lit(None).cast(target.schema[c].dataType)
        ins_proj.append(col.alias(c))
    # (evolved columns are source columns by construction, so the NULL
    # branch above only ever consults genuine target columns)
    if with_action_column:
        # unmatched-deleted source rows survive tagged 'skip_delete' so
        # downstream observe-based metrics can count them — the reference
        # includes them in recordsInSlice and the deleted count
        # (Merge.scala:35,92,132). The caller drops them after the observe.
        ins_proj.append(
            F.when(F.col(deleted_c), F.lit("skip_delete"))
            .otherwise(F.lit("insert"))
            .alias("__action")
        )
    part2 = inserts.select(*ins_proj)

    return part1.unionByName(part2)


def scd2_state(
    target: DataFrame,
    source: DataFrame,
    pk: str,
    prefix: str = "",
    processing_time: str = "1970-01-01 00:00:00",
    delete_window: Column | None = None,
    delete_missing: bool = False,
    with_action_column: bool = False,
    extra_columns=(),
) -> DataFrame:
    """Post-run SCD Type 2 state (Historic.scala:14-168, clauses J6-J8).

    Semantics per current target version vs source (on PK):
      * matched & hash differs  -> close old (ValidTo=pt, IsCurrent=false)
                                   AND append source as new current version
      * matched & hash equal    -> unchanged
      * source-only             -> insert as new current version
      * target-only & window & delete_missing
                                -> close + mark deleted (J7)
      * non-current target rows -> pass through untouched

    The source is expected to already carry the temporal columns from
    pipeline step P4 (ValidFrom=pt, ValidTo=sentinel, IsCurrent=true).

    Built as current LEFT JOIN source + source ANTI current(pk), like
    ``merge_state``.
    """
    deleted_c = f"{prefix}deleted"
    lastseen_c = f"{prefix}lastSeen"
    hash_c = f"{prefix}SourceHash"
    vfrom_c = f"{prefix}ValidFrom"
    vto_c = f"{prefix}ValidTo"
    iscur_c = f"{prefix}IsCurrent"
    out_cols = _output_columns(target, source, extra_columns)

    # NULL IsCurrent (a segment written without temporal columns, e.g. a
    # per-run strategy override) counts as CURRENT: the row is the latest
    # known state and must participate in versioning — a raw where(~col)
    # would drop it from BOTH branches and commit silent data loss
    is_current = F.coalesce(F.col(iscur_c), F.lit(True))
    historical = target.where(~is_current)
    current = target.where(is_current)

    t = current.alias("t")
    s = source.alias("s")
    # Same broadcast-capable joins as merge_state: current LEFT JOIN
    # source (matched + target-only; slice broadcastable, current versions
    # never shuffled) + source ANTI current-pk (inserts; pk-only shuffle on
    # the fallback path).
    joined = t.join(s, F.col(f"t.{pk}") == F.col(f"s.{pk}"), "left")

    matched = F.col(f"s.{pk}").isNotNull()
    tgt_only = F.col(f"s.{pk}").isNull()
    hash_differs = F.col(f"s.{hash_c}") != F.col(f"t.{hash_c}")

    infer_delete = _infer_delete_cond(delete_missing, delete_window, tgt_only, deleted_c)

    close_old = matched & hash_differs

    # One pass over the join: each joined row explodes into 1-2 output rows
    # (the surviving target-side row, and/or the new current version from
    # the source). Expressing the two shapes as separate selects unioned
    # together (the round-1 form) put the join subtree in the plan twice —
    # exchange reuse shares the shuffle files but the sort-merge + project
    # still executed twice, doubling join compute on the one path whose
    # design goal is a single pass at 100 TB.
    pt_ts = ts_lit(processing_time)

    # shape A: surviving target-side row (closed, deleted-closed, or untouched)
    a_fields = []
    for c in out_cols:
        if c in target.columns:
            tc = F.col(f"t.{c}")
        else:  # evolved column: closed/untouched versions never had it
            tc = F.lit(None).cast(source.schema[c].dataType)
        if c == vto_c:
            col = F.when(close_old | infer_delete, pt_ts).otherwise(tc)
        elif c == iscur_c:
            col = F.when(close_old | infer_delete, F.lit(False)).otherwise(tc)
        elif c == deleted_c:
            col = F.when(infer_delete, F.lit(True)).otherwise(tc)
        elif c == lastseen_c:
            col = F.when(infer_delete, pt_ts).otherwise(tc)
        else:
            col = tc
        a_fields.append(col.alias(c))
    if with_action_column:
        a_fields.append(
            F.when(close_old, F.lit("close"))
            .when(infer_delete, F.lit("delete_close"))
            .when(matched, F.lit("unchanged"))
            .otherwise(F.lit("keep"))
            .alias("__action")
        )

    # shape B: new current version from source (new-version, J8); a target
    # column missing from the source (schema drift) carries the previous
    # version's value forward instead of NULL or a crash
    b_fields = [
        (F.col(f"s.{c}") if c in source.columns else F.col(f"t.{c}")).alias(c)
        for c in out_cols
    ]  # evolved columns are source columns, so t.{c} only hits real target cols
    if with_action_column:
        b_fields.append(F.lit("new_version").alias("__action"))

    a_struct, b_struct = F.struct(*a_fields), F.struct(*b_fields)
    emitted = (
        F.when(close_old, F.array(a_struct, b_struct))
        .otherwise(F.array(a_struct))
    )
    merged = joined.select(F.explode(emitted).alias("__r")).select("__r.*")

    # inserts: source rows with no current target version; target columns
    # the source lacks become typed NULLs
    ins = source.join(current.select(F.col(pk)), on=pk, how="left_anti")
    ins_proj = [
        (F.col(c) if c in source.columns else F.lit(None).cast(target.schema[c].dataType)).alias(c)
        for c in out_cols
    ]
    if with_action_column:
        ins_proj.append(F.lit("insert").alias("__action"))
    inserts = ins.select(*ins_proj)

    hist = historical.select(
        *[
            (
                F.col(c)
                if c in historical.columns
                else F.lit(None).cast(source.schema[c].dataType).alias(c)
            )
            for c in out_cols
        ]
    )
    if with_action_column:
        hist = hist.withColumn("__action", F.lit("historical"))
    return hist.unionByName(merged).unionByName(inserts)


def merge_metrics(
    records_in_slice: int,
    inserted: int,
    soft_deletes: int,
    inferred_deletes: int,
) -> dict[str, int]:
    """Merge metric identity: inserted + updated + deleted = recordsInSlice
    (Merge.scala:124-145, PROCESSING_STRATEGIES.md:124-140). ``deleted``
    counts slice-side soft deletes only — inferred deletes come from rows
    NOT in the slice, so folding them in would break the identity; they are
    reported separately (matching the run summary and the oracle)."""
    updated = records_in_slice - inserted - soft_deletes
    return {
        "records_in_slice": records_in_slice,
        "inserted": inserted,
        "updated": updated,
        "deleted": soft_deletes,
        "inferred_deletes": inferred_deletes,
        "touched": records_in_slice,
    }


def scd2_metrics(
    records_in_slice: int,
    new_versions: int,
    unchanged: int,
    inferred_deletes: int,
) -> dict[str, int]:
    """Historic identity: inserted + updated + unchanged = recordsInSlice
    (Historic.scala:106-165, PROCESSING_STRATEGIES.md:203-219)."""
    return {
        "records_in_slice": records_in_slice,
        "updated": new_versions,
        "unchanged": unchanged,
        "inserted": records_in_slice - new_versions - unchanged,
        "deleted": inferred_deletes,
    }
