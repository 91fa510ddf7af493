"""End-to-end strategy tests: write bronze slice -> Processing.process ->
read silver LakeTable -> assert rows/columns/metrics (reference style:
FullProcessingSpec / MergeProcessingSpec / HistoricProcessingSpec /
InferDeletesSpec)."""

import pytest
from pyspark.sql import functions as F

from datalakefoundation_spark.core.exceptions import (
    CalculatedColumnException,
    DuplicateBusinesskeyException,
)
from datalakefoundation_spark.processing import Processing
from datalakefoundation_spark.tables.lake_table import BUCKET_COL
from tests.helpers import (
    T0,
    T1,
    T2,
    legacy_bucket,
    legacy_bucketed_table,
    make_metadata,
    rows_v1,
    stamp_legacy_bucketing,
    write_slice,
)


def silver(processing):
    return processing.silver_table().read()


def test_full_load(spark, lake_root, prefix):
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(10))
    p = Processing(spark, md, 1, "s1.parquet", {"processing.time": T0})
    summary = p.process("full")
    assert summary.records_in_slice == 10
    assert summary.inserted == 10
    out = silver(p)
    assert out.count() == 10
    cols = set(out.columns)
    assert f"{prefix}SourceHash" in cols
    assert f"{prefix}deleted" in cols
    assert f"{prefix}lastSeen" in cols
    assert f"{prefix}source_filename" in cols
    assert "PK_person" in cols
    assert out.where(F.col(f"{prefix}deleted")).count() == 0


def test_full_overwrite_rerun(spark, lake_root, prefix):
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(10))
    write_slice(spark, md, "s2.parquet", rows_v1(4))
    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process("full")
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    p2.process("full")
    assert silver(p2).count() == 4


def test_merge_first_run_diverts_to_full(spark, lake_root, prefix):
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(10))
    p = Processing(spark, md, 1, "s1.parquet", {"processing.time": T0})
    summary = p.process()  # entity processtype=merge
    assert summary.strategy == "full"
    assert silver(p).count() == 10


def test_merge_upsert_and_touch(spark, lake_root, prefix):
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(10))
    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process()
    # slice2: update rows 0-2 (changed data), insert rows 10-11, touch 3-9
    rows2 = rows_v1(12)
    for r in rows2[:3]:
        r["data"] = r["data"] + "_changed"
    write_slice(spark, md, "s2.parquet", rows2)
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    summary = p2.process()
    assert summary.strategy == "merge"
    assert summary.records_in_slice == 12
    assert summary.inserted == 2
    assert summary.updated == 10  # 3 hash-changed + 7 touched
    assert summary.deleted == 0
    # identity: inserted + updated + deleted == records_in_slice
    assert summary.inserted + summary.updated + summary.deleted == 12
    out = silver(p2)
    assert out.count() == 12
    changed = out.where(F.col("data").endswith("_changed"))
    assert changed.count() == 3
    # every source-matched row got the new lastSeen
    ls = f"{prefix}lastSeen"
    touched = out.where(F.col(ls) == F.lit(T1).cast("timestamp_ntz"))
    assert touched.count() == 12


def test_merge_soft_delete(spark, lake_root, prefix):
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(10))
    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process()
    rows2 = rows_v1(10)
    for r in rows2:
        r[f"{prefix}deleted"] = r["ID"] in (1, 2)
    write_slice(spark, md, "s2.parquet", rows2)
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    summary = p2.process()
    assert summary.deleted == 2
    out = silver(p2)
    assert out.where(F.col(f"{prefix}deleted")).count() == 2
    assert out.count() == 10


def test_delete_inference_window(spark, lake_root, prefix):
    """Rows missing from the slice are soft-deleted only inside the
    watermark window (InferDeletesSpec scenarios 1/4)."""
    md = make_metadata(lake_root, prefix, delete_missing=True)
    write_slice(spark, md, "s1.parquet", rows_v1(10))
    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process()
    # second slice: only rows 5..9, SeqNr watermark now spans 5..9;
    # window = [previous_max(9)... wait previous stored max is 9 from slice1
    # -> window [9,9]; drop row 9? keep rows 5..9 minus... use rows 4..8:
    rows2 = [r for r in rows_v1(10) if 4 <= r["ID"] <= 8]
    write_slice(spark, md, "s2.parquet", rows2)
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    p2.process()
    out = silver(p2)
    deleted = {r["ID"] for r in out.where(F.col(f"{prefix}deleted")).collect()}
    # window: SeqNr >= previous stored (9) AND <= current max (8) -> empty window
    # nothing deleted (strict parity: inclusive bounds produce an empty range)
    assert deleted == set()


def test_delete_inference_basic(spark, lake_root, prefix):
    """Without a stored previous watermark beyond range, missing rows inside
    the current window get soft-deleted."""
    md = make_metadata(lake_root, prefix, delete_missing=True)
    write_slice(spark, md, "s1.parquet", rows_v1(6))  # SeqNr 0..5, stored max 5
    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process()
    # slice2 keeps 0,1,2 and 5..7: missing 3,4 (SeqNr window [5..7] from stored 5
    # to new max 7) -> 3,4 are OUTSIDE window (SeqNr 3,4 < 5) -> not deleted
    rows2 = [r for r in rows_v1(8) if r["ID"] in (0, 1, 2, 5, 6, 7)]
    write_slice(spark, md, "s2.parquet", rows2)
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    p2.process()
    out = silver(p2)
    assert out.where(F.col(f"{prefix}deleted")).count() == 0

    # slice3: full range present except 1 and 6; window [7 (stored), 9 (new max)]
    rows3 = [r for r in rows_v1(10) if r["ID"] not in (1, 6)]
    write_slice(spark, md, "s3.parquet", rows3)
    p3 = Processing(spark, md, 1, "s3.parquet", {"processing.time": T2})
    p3.process()
    out3 = silver(p3)
    deleted = {r["ID"] for r in out3.where(F.col(f"{prefix}deleted")).collect()}
    # row 1 (SeqNr 1) outside window [7,9] -> kept; row 6 (SeqNr 6) also outside
    assert deleted == set()
    assert out3.count() == 10


def test_delete_inference_inside_window(spark, lake_root, prefix):
    """Missing row whose watermark value lies inside [previous, current]."""
    md = make_metadata(lake_root, prefix, delete_missing=True)
    rows1 = [{"ID": i, "SeqNr": 5, "name": f"n{i}", "data": f"d{i}"} for i in range(6)]
    write_slice(spark, md, "s1.parquet", rows1)
    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process()
    # all rows share SeqNr 5 -> stored max 5. slice2: rows 0..3 with SeqNr 6,
    # missing 4,5 (their SeqNr 5 >= previous 5? window [5,6] includes 5 -> deleted)
    rows2 = [{"ID": i, "SeqNr": 6, "name": f"n{i}", "data": f"d{i}x"} for i in range(4)]
    write_slice(spark, md, "s2.parquet", rows2)
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    summary = p2.process()
    out = silver(p2)
    deleted = {r["ID"] for r in out.where(F.col(f"{prefix}deleted")).collect()}
    assert deleted == {4, 5}
    assert summary.inferred_deletes == 2
    assert summary.inserted + summary.updated + summary.deleted == summary.records_in_slice
    # already-deleted rows are not re-deleted on the next run (scenario 3)
    rows3 = [{"ID": i, "SeqNr": 7, "name": f"n{i}", "data": f"d{i}y"} for i in range(4)]
    write_slice(spark, md, "s3.parquet", rows3)
    p3 = Processing(spark, md, 1, "s3.parquet", {"processing.time": T2})
    s3 = p3.process()
    assert s3.inferred_deletes == 0


def test_delete_inference_skipped_without_watermarks(spark, lake_root, prefix):
    """delete_missing=True with NO watermarks configured must not delete
    anything: an unbuildable window disables delete inference entirely
    instead of widening to the whole table (ProcessStrategy.scala:100-112
    safe default — one small slice must never mass soft-delete a target)."""
    md = make_metadata(lake_root, prefix, delete_missing=True, watermark=False)
    write_slice(spark, md, "s1.parquet", rows_v1(10))
    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process()
    # tiny second slice: 8 of 10 rows missing from source
    write_slice(spark, md, "s2.parquet", rows_v1(2))
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    summary = p2.process()
    out = silver(p2)
    assert out.where(F.col(f"{prefix}deleted")).count() == 0
    assert summary.inferred_deletes == 0
    assert out.count() == 10


def test_historic_delete_inference_skipped_without_watermarks(spark, lake_root, prefix):
    md = make_metadata(
        lake_root, prefix, processtype="historic", delete_missing=True, watermark=False
    )
    write_slice(spark, md, "s1.parquet", rows_v1(6))
    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process()
    write_slice(spark, md, "s2.parquet", rows_v1(2))
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    p2.process()
    out = silver(p2)
    assert out.where(F.col(f"{prefix}deleted")).count() == 0
    assert out.where(F.col(f"{prefix}IsCurrent")).count() == 6


def test_merge_counts_unmatched_deleted_source_rows(spark, lake_root, prefix):
    """Source rows flagged deleted that match no target row are counted in
    records_in_slice and deleted (Merge.scala:35,92,132) but never inserted."""
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(5))
    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process()
    # slice2: rows 0-4 unchanged + rows 5,6 new but flagged deleted
    rows2 = rows_v1(7)
    for r in rows2:
        r[f"{prefix}deleted"] = r["ID"] >= 5
    write_slice(spark, md, "s2.parquet", rows2)
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    summary = p2.process()
    assert summary.records_in_slice == 7
    assert summary.deleted == 2
    assert summary.inserted == 0
    assert summary.inserted + summary.updated + summary.deleted == 7
    out = silver(p2)
    assert out.count() == 5  # the dead-on-arrival rows were not inserted
    assert out.where(F.col(f"{prefix}deleted")).count() == 0


def test_source_hash_covers_deleted_flag(spark, lake_root, prefix):
    """A bronze-carried deleted flag participates in SourceHash (the
    reference excludes only source_filename/metadata): flipping deleted
    back to false with identical payload must land in the update clause so
    the record resurrects."""
    md = make_metadata(lake_root, prefix)
    rows1 = rows_v1(3)
    for r in rows1:
        r[f"{prefix}deleted"] = r["ID"] == 1
    write_slice(spark, md, "s1.parquet", rows1)
    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process()
    rows2 = rows_v1(3)
    for r in rows2:
        r[f"{prefix}deleted"] = False  # row 1 resurrects, payload unchanged
    write_slice(spark, md, "s2.parquet", rows2)
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    p2.process()
    out = silver(p2)
    assert out.where(F.col(f"{prefix}deleted")).count() == 0


def test_processing_time_uses_environment_timezone(spark, lake_root, prefix):
    import datetime as dt
    from zoneinfo import ZoneInfo

    md = make_metadata(lake_root, prefix)
    md.environment.timezone = "Pacific/Kiritimati"  # UTC+14, no DST
    write_slice(spark, md, "s1.parquet", rows_v1(2))
    p = Processing(spark, md, 1, "s1.parquet")
    stamped = dt.datetime.fromisoformat(p.processing_time)
    expect = dt.datetime.now(ZoneInfo("Pacific/Kiritimati")).replace(tzinfo=None)
    assert abs((expect - stamped).total_seconds()) < 120


def test_historic_scd2_chain(spark, lake_root, prefix):
    md = make_metadata(lake_root, prefix, processtype="historic")
    write_slice(spark, md, "s1.parquet", rows_v1(6))
    p1 = Processing(spark, md, 1, "s1.parquet", {"processing.time": T0})
    s1 = p1.process()
    assert s1.strategy == "full"
    out1 = silver(p1)
    assert out1.where(F.col(f"{prefix}IsCurrent")).count() == 6

    rows2 = rows_v1(7)
    rows2[0]["data"] = "data0_v2"
    rows2[1]["data"] = "data1_v2"
    write_slice(spark, md, "s2.parquet", rows2)
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    s2 = p2.process()
    assert s2.strategy == "historic"
    assert s2.updated == 2      # new versions
    assert s2.unchanged == 4
    assert s2.inserted == 1     # row 6
    assert s2.inserted + s2.updated + s2.unchanged == s2.records_in_slice == 7

    out = silver(p2)
    assert out.count() == 9  # 6 original + 2 new versions + 1 insert
    cur = out.where(F.col(f"{prefix}IsCurrent"))
    assert cur.count() == 7
    # version chaining: old ValidTo == new ValidFrom == T1 for changed IDs
    vf, vt = f"{prefix}ValidFrom", f"{prefix}ValidTo"
    old0 = out.where((F.col("ID") == 0) & ~F.col(f"{prefix}IsCurrent")).head()
    new0 = out.where((F.col("ID") == 0) & F.col(f"{prefix}IsCurrent")).head()
    assert str(old0[vt]) == str(new0[vf])
    assert new0["data"] == "data0_v2"


def test_historic_delete_inference_only_current(spark, lake_root, prefix):
    md = make_metadata(lake_root, prefix, processtype="historic", delete_missing=True)
    rows1 = [{"ID": i, "SeqNr": 5, "name": f"n{i}", "data": f"d{i}"} for i in range(5)]
    write_slice(spark, md, "s1.parquet", rows1)
    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process()
    rows2 = [{"ID": i, "SeqNr": 6, "name": f"n{i}", "data": f"d{i}v2"} for i in range(3)]
    write_slice(spark, md, "s2.parquet", rows2)
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    s2 = p2.process()
    out = silver(p2)
    # IDs 3,4 missing, SeqNr 5 inside [5,6] -> closed + deleted
    dele = out.where(F.col(f"{prefix}deleted"))
    assert {r["ID"] for r in dele.collect()} == {3, 4}
    assert dele.where(F.col(f"{prefix}IsCurrent")).count() == 0
    assert s2.deleted == 2
    # changed rows got new versions; deleted rows did not
    assert out.count() == 8  # 5 + 3 new versions


def test_partitioned_merge_prunes(spark, lake_root, prefix):
    """Partitioned entity: merge rewrites only partitions present in slice."""
    md = make_metadata(lake_root, prefix, partitioned=True)
    write_slice(spark, md, "s1.parquet", rows_v1(10))
    p1 = Processing(spark, md, 1, "s1.parquet", {"processing.time": T0})
    p1.process()
    table = p1.silver_table()
    v1 = table.latest_manifest().version
    # slice with only even IDs -> partition Administration=0 only
    rows2 = [r for r in rows_v1(10) if r["ID"] % 2 == 0]
    for r in rows2:
        r["data"] += "_v2"
    write_slice(spark, md, "s2.parquet", rows2)
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1, "write_mode": "cow"})
    summary = p2.process()
    assert summary.updated == 5
    out = silver(p2)
    assert out.count() == 10
    assert out.where(F.col("data").endswith("_v2")).count() == 5
    # odd partition rows untouched (lastSeen still T0)
    odd = out.where(F.col("Administration") == 1)
    assert odd.where(F.col(f"{prefix}lastSeen") == F.lit(T0).cast("timestamp_ntz")).count() == 5
    mf = table.latest_manifest()
    assert mf.version == v1 + 1
    # the old segment still owns the odd partition, new segment owns even
    owners = {
        frozenset(tuple(pv.items()) for pv in seg.partitions or []) for seg in mf.segments
    }
    assert len(mf.segments) == 2


def test_unpartitioned_merge_bucket_cow(spark, lake_root, prefix):
    """A merge into an unpartitioned table of the retired PK-hash bucket
    layout is a copy-on-write of the whole table, whatever ``write_mode``
    asks: its bucket segments take no patch, and the rewrite commits the
    table plain with every row."""
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(50))
    p1 = Processing(spark, md, 1, "s1.parquet", {"processing.time": T0})
    p1.process()
    path = p1.silver_table().path
    legacy_bucketed_table(spark, path).overwrite(
        silver(p1).withColumn(BUCKET_COL, legacy_bucket(p1.pk_name, 8))
    )
    stamp_legacy_bucketing(path, p1.pk_name, 8)
    mf1 = p1.silver_table().latest_manifest()
    assert len(mf1.segments[0].partitions) > 5

    rows2 = [dict(rows_v1(50)[7], data="changed")]
    write_slice(spark, md, "s2.parquet", rows2)
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1, "write_mode": "mor"})
    summary = p2.process()
    assert summary.updated == 1
    assert (summary.write_path, summary.rows_written) == ("rewrite", 50)
    mf2 = p2.silver_table().latest_manifest()
    assert mf2.bucketing is None and mf2.partition_by == []
    (seg,) = mf2.segments
    assert seg.partitions is None and not seg.patch

    out = silver(p2)
    assert BUCKET_COL not in out.columns
    assert out.count() == 50
    assert out.where(F.col("data") == "changed").count() == 1
    assert {r["ID"] for r in out.collect()} == set(range(50))


def test_small_table_created_unbucketed(spark, lake_root, prefix):
    """An unpartitioned table is a plain directory: segments own the whole
    table, and a copy-on-write merge rewrites it into one plain segment."""
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(50))
    p1 = Processing(spark, md, 1, "s1.parquet", {"processing.time": T0})
    p1.process("merge")  # first run diverts to full -> creates layout
    mf = p1.silver_table().latest_manifest()
    assert mf.partition_by == []
    assert mf.bucketing is None

    rows2 = [dict(rows_v1(50)[7], data="changed")]
    write_slice(spark, md, "s2.parquet", rows2)
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1, "write_mode": "cow"})
    p2.process("merge")
    (seg,) = p2.silver_table().latest_manifest().segments
    assert seg.partitions is None and seg.rows == 50
    out = silver(p2)
    assert out.count() == 50
    assert out.where(F.col("data") == "changed").count() == 1


def test_full_overwrite_rederives_bucket_layout(spark, lake_root, prefix):
    """A full run over a table of the retired PK-hash bucket layout rewrites
    it plain; ``bucketing.*`` settings are accepted and ignored."""
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(20))
    p1 = Processing(spark, md, 1, "s1.parquet", {"processing.time": T0})
    p1.process("full")
    path = p1.silver_table().path
    legacy_bucketed_table(spark, path).overwrite(
        silver(p1).withColumn(BUCKET_COL, legacy_bucket(p1.pk_name, 5))
    )
    stamp_legacy_bucketing(path, p1.pk_name, 5)
    assert p1.silver_table().latest_manifest().partition_by == [BUCKET_COL]
    assert silver(p1).count() == 20

    write_slice(spark, md, "s2.parquet", rows_v1(20))
    p2 = Processing(
        spark, md, 1, "s2.parquet",
        {"processing.time": T1, "bucketing.rows_per_bucket": 4, "bucketing.buckets": 8},
    )
    p2.process("full")
    mf = p2.silver_table().latest_manifest()
    assert mf.bucketing is None and mf.partition_by == []
    out = silver(p2)
    assert BUCKET_COL not in out.columns
    assert out.count() == 20

    # a merge against the plain table rewrites it whole
    rows3 = [dict(rows_v1(20)[3], data="changed")]
    write_slice(spark, md, "s3.parquet", rows3)
    p3 = Processing(spark, md, 1, "s3.parquet", {"processing.time": T2, "write_mode": "cow"})
    p3.process("merge")
    (seg,) = p3.silver_table().latest_manifest().segments
    assert seg.partitions is None
    assert silver(p3).where(F.col("data") == "changed").count() == 1


def test_duplicate_businesskey_raises(spark, lake_root, prefix):
    md = make_metadata(lake_root, prefix)
    rows = rows_v1(5) + [dict(rows_v1(5)[0])]
    write_slice(spark, md, "s1.parquet", rows)
    p = Processing(spark, md, 1, "s1.parquet", {"processing.time": T0})
    with pytest.raises(DuplicateBusinesskeyException):
        p.process()


def test_duplicate_only_in_constraint_dropped_rows_passes(spark, lake_root, prefix):
    """The fused duplicate-existence check (r11) counts distinct PKs over
    constraint-KEPT rows only: a duplicate confined to dropped rows must not
    trip the guard, while a kept-side duplicate still raises."""
    md = make_metadata(f"{lake_root}/clean", prefix)
    rows = rows_v1(5) + [dict(rows_v1(5)[4])]  # both ID=4 copies have SeqNr 4
    write_slice(spark, md, "s1.parquet", rows)
    p = Processing(
        spark, md, 1, "s1.parquet",
        {"processing.time": T0,
         "constraints": [
             {"name": "small_seq", "expression": "SeqNr < 4", "action": "drop"}
         ]},
    )
    assert p.process("full").records_in_slice == 4  # dup pair fully dropped

    md2 = make_metadata(f"{lake_root}/dup", prefix)
    rows2 = rows_v1(5) + [dict(rows_v1(5)[0])]  # ID=0 dup survives the drop
    write_slice(spark, md2, "s1.parquet", rows2)
    p2 = Processing(
        spark, md2, 1, "s1.parquet",
        {"processing.time": T0,
         "constraints": [
             {"name": "small_seq", "expression": "SeqNr < 4", "action": "drop"}
         ]},
    )
    with pytest.raises(DuplicateBusinesskeyException):
        p2.process("full")


def test_invalid_calculated_column_fatal(spark, lake_root, prefix):
    md = make_metadata(lake_root, prefix)
    entity = md.get_entity(1)
    entity.columns.append(
        type(entity.columns[0])(
            name="", newname="bad", fieldroles=["calculated"], expression="nonexistent_fn(1"
        )
    )
    write_slice(spark, md, "s1.parquet", rows_v1(3))
    p = Processing(spark, md, 1, "s1.parquet", {"processing.time": T0})
    with pytest.raises(CalculatedColumnException) as exc:
        p.process()
    assert "bad" in str(exc.value)


def test_empty_slice(spark, lake_root, prefix):
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(5))
    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process()
    empty = [r for r in rows_v1(5) if False]
    df = spark.createDataFrame([], "ID bigint, SeqNr bigint, name string, data string")
    entity = md.get_entity(1)
    df.write.mode("overwrite").parquet(f"{entity.get_output().bronzepath.value}/s2.parquet")
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    summary = p2.process()
    assert summary.records_in_slice == 0
    assert silver(p2).count() == 5


def test_watermark_persistence(spark, lake_root, prefix):
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(10))
    p = Processing(spark, md, 1, "s1.parquet", {"processing.time": T0})
    p.process()
    stored = p.watermark_store.latest(1)
    assert stored["SeqNr"] == "9"
    # reset writes a None row that clears the bookmark
    p.watermark_store.reset(1, "SeqNr")
    assert p.watermark_store.latest(1)["SeqNr"] is None


def test_watermark_store_compaction(spark, tmp_path):
    """100+ commits stay readable and the segment count stays bounded, so
    ``latest`` is O(1) file opens per read instead of O(runs)."""
    from datalakefoundation_spark.watermark import WatermarkStore

    ws = WatermarkStore(spark, str(tmp_path))
    for i in range(100):
        ws.write(1, {"SeqNr": ("int", str(i))})
    mf = ws.table.latest_manifest()
    assert len(mf.segments) <= WatermarkStore.COMPACT_THRESHOLD + 1
    assert ws.latest(1)["SeqNr"] == "99"
    # a second entity's bookmarks survive compaction too
    ws.write(2, {"ts": ("str", "2026-01-01")})
    assert ws.latest(2)["ts"] == "2026-01-01"
    assert ws.latest(1)["SeqNr"] == "99"


def test_check_constraint_fail_aborts_before_write(spark, lake_root, prefix):
    from datalakefoundation_spark.core.exceptions import ConstraintViolationException

    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(10))  # SeqNr 0..9
    p = Processing(
        spark, md, 1, "s1.parquet",
        {"processing.time": T0,
         "constraints": [{"name": "small_seq", "expression": "SeqNr < 5"}]},
    )
    with pytest.raises(ConstraintViolationException, match="small_seq.*5"):
        p.process("full")
    assert not p.silver_table().exists()  # aborted before any write


def test_check_constraint_drop_excludes_rows_and_watermarks(spark, lake_root, prefix):
    md = make_metadata(lake_root, prefix)
    rows = rows_v1(10)
    rows.append({"ID": 99, "SeqNr": None, "name": "nullseq", "data": "d"})
    write_slice(spark, md, "s1.parquet", rows)
    p = Processing(
        spark, md, 1, "s1.parquet",
        {"processing.time": T0,
         "constraints": [
             {"name": "small_seq", "expression": "SeqNr < 8", "action": "drop"}
         ]},
    )
    summary = p.process("full")
    # SQL CHECK semantics: NULL passes — kept = SeqNr 0..7 plus the NULL row
    assert summary.records_in_slice == 9
    out = silver(p)
    assert out.count() == 9
    assert {r["ID"] for r in out.collect()} == set(range(8)) | {99}
    # the stored watermark ignores dropped rows (max kept SeqNr = 7, not 9)
    assert p.current_watermarks()["SeqNr"] == "7"


def test_check_constraint_clean_slice_passes(spark, lake_root, prefix):
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(5))
    p = Processing(
        spark, md, 1, "s1.parquet",
        {"processing.time": T0,
         "constraints": [{"name": "ok", "expression": "SeqNr >= 0"}]},
    )
    assert p.process("full").records_in_slice == 5


def test_schema_evolution_additive_merge(spark, lake_root, prefix):
    """schema_evolution.additive: a new bronze column is ADDED to silver on
    merge — slice rows carry values, untouched rows read NULL. Default
    (off) keeps reference parity: warn + drop."""
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(10))
    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process()

    rows2 = [{**r, "extra": f"e{r['ID']}"} for r in rows_v1(6)]
    write_slice(spark, md, "s2.parquet", rows2)

    # default: dropped
    p_off = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    p_off.process()
    assert "extra" not in silver(p_off).columns

    # enabled: column appears; rows whose hash changed take the value,
    # untouched/unmatched rows read NULL (hash-equal rows only touch
    # lastSeen — same as Delta: no matched-update fires on equal hashes)
    write_slice(
        spark, md, "s3.parquet",
        [{**r, "data": r["data"] + "_v3", "extra": f"e{r['ID']}"} for r in rows_v1(6)],
    )
    p_on = Processing(
        spark, md, 1, "s3.parquet",
        {"processing.time": T2, "schema_evolution.additive": True},
    )
    p_on.process()
    out = silver(p_on)
    assert "extra" in out.columns
    vals = {r["ID"]: r["extra"] for r in out.collect()}
    assert vals == {**{i: f"e{i}" for i in range(6)}, **{i: None for i in range(6, 10)}}

    # a later slice WITHOUT the column updates rows but PRESERVES their
    # evolved values (missing-from-source columns keep target values — the
    # same drift rule that protects any target-only column)
    write_slice(
        spark, md, "s4.parquet",
        [{**r, "data": r["data"] + "_v4"} for r in rows_v1(10)],
    )
    p_later = Processing(spark, md, 1, "s4.parquet", {"processing.time": T2})
    p_later.process()
    out2 = silver(p_later)
    assert "extra" in out2.columns
    vals2 = {r["ID"]: r["extra"] for r in out2.collect()}
    assert vals2 == {**{i: f"e{i}" for i in range(6)}, **{i: None for i in range(6, 10)}}


def test_schema_evolution_additive_scd2(spark, lake_root, prefix):
    """SCD2 evolution: new versions carry the evolved column; closed and
    historical versions read NULL."""
    md = make_metadata(lake_root, prefix, processtype="historic")
    write_slice(spark, md, "s1.parquet", rows_v1(4))
    Processing(spark, md, 1, "s1.parquet", {"processing.time": T0}).process()

    rows2 = [{**r, "data": r["data"] + "_v2", "extra": f"e{r['ID']}"} for r in rows_v1(2)]
    write_slice(spark, md, "s2.parquet", rows2)
    p = Processing(
        spark, md, 1, "s2.parquet",
        {"processing.time": T1, "schema_evolution.additive": True},
    )
    p.process()
    out = silver(p)
    assert "extra" in out.columns
    cur = out.where(F.col(f"{prefix}IsCurrent"))
    old = out.where(~F.col(f"{prefix}IsCurrent"))
    assert {r["extra"] for r in cur.where(F.col("ID") < 2).collect()} == {"e0", "e1"}
    assert cur.where((F.col("ID") >= 2) & F.col("extra").isNotNull()).count() == 0
    assert old.where(F.col("extra").isNotNull()).count() == 0


def test_auto_optimize_default_on_for_unpartitioned(spark, tmp_path, monkeypatch):
    """Unpartitioned entities self-compact at the default threshold with NO
    configuration (threshold shrunk via the class default to keep the test
    to 3 runs); partitioned stay opt-in; explicit 0 disables."""
    from datalakefoundation_spark.processing import Processing
    from tests.helpers import T0, make_metadata, rows_v1, write_slice

    monkeypatch.setattr(Processing, "AUTO_OPTIMIZE_DEFAULT", 2)

    # merge-on-read so each merge stacks a patch segment
    md = make_metadata(str(tmp_path / "root"), watermark=False)
    opts = {
        "processing.time": T0,
        "write_mode": "mor",
        # every segment in this test is tiny — make them all foldable
        "maintenance.compact_small_rows": 1000,
    }
    write_slice(spark, md, "s0.parquet", rows_v1(40))
    p = Processing(spark, md, 1, "s0.parquet", opts)
    p.process()
    for i in (1, 2):
        write_slice(
            spark, md, f"s{i}.parquet",
            [{"ID": 100 + i, "SeqNr": 100 + i, "name": "n", "data": "d"}],
        )
        p = Processing(spark, md, 1, f"s{i}.parquet", opts)
        p.process()
    table = p.silver_table()
    mf = table.latest_manifest()
    # default threshold engaged -> incremental small-segment fold
    assert mf.operation == "compact"
    assert len(mf.segments) == 1
    assert table.read().count() == 42

    # explicit 0 disables the default
    md2 = make_metadata(str(tmp_path / "root2"), watermark=False)
    opts2 = {**opts, "maintenance.auto_optimize": 0}
    write_slice(spark, md2, "s0.parquet", rows_v1(40))
    Processing(spark, md2, 1, "s0.parquet", opts2).process()
    for i in (1, 2):
        write_slice(
            spark, md2, f"s{i}.parquet",
            [{"ID": 100 + i, "SeqNr": 100 + i, "name": "n", "data": "d"}],
        )
        p2 = Processing(spark, md2, 1, f"s{i}.parquet", opts2)
        p2.process()
    assert p2.silver_table().latest_manifest().operation not in ("optimize", "compact")


def test_auto_optimize_compacts_after_threshold(spark, tmp_path):
    """maintenance.auto_optimize compacts accumulated partitioned segments
    (and vacuums) inside the ingestion loop."""
    from datalakefoundation_spark.processing import Processing
    from tests.helpers import T0, T1, make_metadata, rows_v1, write_slice

    md = make_metadata(str(tmp_path / "root"), partitioned=True, watermark=False)
    write_slice(spark, md, "s0.parquet", rows_v1(8))
    p = Processing(spark, md, 1, "s0.parquet", {"processing.time": T0})
    p.process()  # first run -> full load, 1 segment owning both partitions
    # merge touching only the even partition -> COW leaves 2 segments
    write_slice(
        spark, md, "s1.parquet",
        [{"ID": j, "SeqNr": j, "name": f"name{j}", "data": f"new{j}"} for j in range(0, 8, 2)],
    )
    p = Processing(
        spark, md, 1, "s1.parquet",
        {"processing.time": T1, "maintenance.auto_optimize": 1, "write_mode": "cow"},
    )
    p.process()
    table = p.silver_table()
    mf = table.latest_manifest()
    assert mf.operation == "compact"  # incremental fold of the small tail
    assert len(mf.segments) == 1
    out = table.read()
    assert out.count() == 8
    # merged payload survives compaction; odd partition untouched
    assert out.where(out["data"] == "new0").count() == 1
    assert out.where(out["data"] == "data1").count() == 1


def test_entity_reset_watermark_to_value(spark, lake_root, prefix):
    """Entity.ResetWatermark parity (Entity.scala:286-296): reset-to-None
    clears the bookmark, reset-to-value rewinds it so the next incremental
    window starts from the given point."""
    from datalakefoundation_spark.watermark import WatermarkStore

    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(10))
    p = Processing(spark, md, 1, "s1.parquet", {"processing.time": T0})
    p.process("full")
    store = WatermarkStore(spark, md.environment.root_folder)
    assert store.latest(1) == {"SeqNr": "9"}

    entity = md.get_entity(1)
    entity.reset_watermark(spark, "SeqNr", "4")
    assert store.latest(1) == {"SeqNr": "4"}
    entity.reset_watermark(spark, "SeqNr")
    assert store.latest(1) == {"SeqNr": None}


def test_bucket_modulus_change_is_ignored(spark, lake_root, prefix):
    """``bucketing.buckets`` and ``bucketing.rows_per_bucket`` (settings of
    the retired PK-hash bucket layout) are accepted and ignored: whatever a
    run configures, the table stays plain and merges stay exact."""
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(20))
    p1 = Processing(
        spark, md, 1, "s1.parquet",
        {"processing.time": T0, "bucketing.rows_per_bucket": 0},
    )
    p1.process("merge")
    mf = p1.silver_table().latest_manifest()
    assert mf.bucketing is None and mf.partition_by == []

    changed = [dict(r, data="changed") for r in rows_v1(20)]
    write_slice(spark, md, "s2.parquet", changed)
    p2 = Processing(
        spark, md, 1, "s2.parquet",
        {"processing.time": T1, "bucketing.buckets": 8},
    )
    p2.process("merge")
    out = silver(p2)
    assert out.count() == 20
    assert out.where(F.col("data") == "changed").count() == 20

    write_slice(spark, md, "s3.parquet", rows_v1(20))
    p3 = Processing(
        spark, md, 1, "s3.parquet",
        {"processing.time": T2, "bucketing.buckets": 0},
    )
    p3.process("merge")
    mf = p3.silver_table().latest_manifest()
    assert mf.bucketing is None and all(s.partitions is None for s in mf.segments)
    assert "__dlf_bucket" not in silver(p3).columns
    assert silver(p3).count() == 20


def test_watermark_compaction_reclaims_segments(spark, tmp_path):
    """Folded segment dirs are deleted after a successful compaction, so a
    raw parquet read over the data dir never sees a bookmark twice and disk
    stays bounded."""
    from datalakefoundation_spark.watermark import WatermarkStore

    ws = WatermarkStore(spark, str(tmp_path))
    for i in range(40):
        ws.write(1, {"SeqNr": ("int", str(i))})
    mf = ws.table.latest_manifest()
    live = {s.dir.split("/", 1)[1] for s in mf.segments}
    on_disk = set(ws.table.fs.listdir(f"{ws.path}/data"))
    assert on_disk == live  # nothing orphaned
    raw = spark.read.parquet(f"{ws.path}/data/*/")
    assert raw.count() == raw.dropDuplicates(["entity_id", "column_name", "timestamp", "value"]).count()
    assert ws.latest(1)["SeqNr"] == "39"


def test_pk_collision_guard_aborts(spark):
    """Distinct business keys whose concat_ws collapses to one PK must abort
    (the reference's raw-column group would pass and the merge would fan
    out): ('a_b','c') and ('a','b_c') both hash 'a_b_c'."""
    from datalakefoundation_spark.pipeline import check_duplicate_keys

    df = spark.createDataFrame([("a_b", "c", 1), ("a", "b_c", 2)], "k1 string, k2 string, v int")
    with pytest.raises(DuplicateBusinesskeyException):
        check_duplicate_keys(df, "dest", ["k1", "k2"])
    # NULL-skip collisions too: ('a', NULL) vs (NULL, 'a')
    df2 = spark.createDataFrame([("a", None, 1), (None, "a", 2)], "k1 string, k2 string, v int")
    with pytest.raises(DuplicateBusinesskeyException):
        check_duplicate_keys(df2, "dest", ["k1", "k2"])
    # genuinely distinct keys pass
    df3 = spark.createDataFrame([("a", "b", 1), ("c", "d", 2)], "k1 string, k2 string, v int")
    check_duplicate_keys(df3, "dest", ["k1", "k2"])


def test_scd2_null_iscurrent_rows_survive(spark, lake_root, prefix):
    """Rows whose IsCurrent is NULL (written by a merge-strategy override on
    a historic table) are treated as current and keep participating in SCD2
    versioning instead of silently vanishing."""
    from datalakefoundation_spark import strategies as S

    md = make_metadata(lake_root, prefix, processtype="historic")
    write_slice(spark, md, "s1.parquet", rows_v1(6))
    p1 = Processing(spark, md, 1, "s1.parquet", {"processing.time": T0})
    p1.process("historic")
    # simulate a mixed-layout target: NULL temporal columns on two rows
    tbl = p1.silver_table()
    target = tbl.read()
    damaged = target.withColumn(
        f"{prefix}IsCurrent",
        F.when(F.col("ID") < 2, F.lit(None).cast("boolean")).otherwise(F.col(f"{prefix}IsCurrent")),
    )
    source = Processing(spark, md, 1, "s1.parquet", {"processing.time": T1}).get_source(historic=True)
    state = S.scd2_state(damaged, source, p1.pk_name, prefix=prefix, processing_time=T1)
    # all 6 keys still present, none dropped
    assert state.select("ID").distinct().count() == 6


def test_merge_drift_keeps_target_value(spark, lake_root, prefix):
    """A target column missing from the source keeps its target value on
    updated rows (NULLing it would destroy data the source never carried);
    SCD2 new versions carry the previous version's value forward."""
    from datalakefoundation_spark import strategies as S

    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(4))
    p1 = Processing(spark, md, 1, "s1.parquet", {"processing.time": T0})
    p1.process("merge")
    target = p1.silver_table().read()
    # second slice DROPS the 'data' column and changes 'name' (hash differs)
    rows2 = [{"ID": i, "SeqNr": i + 10, "name": f"renamed{i}"} for i in range(4)]
    write_slice(spark, md, "s2.parquet", rows2)
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    src = p2.get_source()
    state = S.merge_state(target, src, p2.pk_name, prefix=prefix, processing_time=T1)
    out = {r["ID"]: r for r in state.collect()}
    for i in range(4):
        assert out[i]["name"] == f"renamed{i}"      # updated from source
        assert out[i]["data"] == f"data{i}"         # kept, not NULLed
    scd_state = S.scd2_state(
        target.withColumn(f"{prefix}ValidFrom", S.ts_lit(T0))
        .withColumn(f"{prefix}ValidTo", S.ts_lit("2999-12-31 00:00:00"))
        .withColumn(f"{prefix}IsCurrent", F.lit(True)),
        src.withColumn(f"{prefix}ValidFrom", S.ts_lit(T1))
        .withColumn(f"{prefix}ValidTo", S.ts_lit("2999-12-31 00:00:00"))
        .withColumn(f"{prefix}IsCurrent", F.lit(True)),
        p2.pk_name,
        prefix=prefix,
        processing_time=T1,
    )
    new_versions = scd_state.where(F.col(f"{prefix}IsCurrent") & (F.col("SeqNr") >= 10))
    vals = {r["ID"]: r["data"] for r in new_versions.collect()}
    assert vals == {0: "data0", 1: "data1", 2: "data2", 3: "data3"}


def test_merge_with_null_partition_values(spark, lake_root, prefix):
    """NULL partition values prune/replace correctly: hive encodes NULL as
    __HIVE_DEFAULT_PARTITION__ and equality-to-NULL predicates never match,
    so without explicit isNull handling a merge would duplicate PKs in the
    NULL partition."""
    md = make_metadata(lake_root, prefix, partitioned=True)
    # Administration = ID % 2; make it NULL for odd IDs via a custom slice
    rows1 = [{"ID": i, "SeqNr": i, "name": f"n{i}", "data": f"d{i}"} for i in range(6)]
    write_slice(spark, md, "s1.parquet", rows1)
    # override the calculated column to NULL for odd ids
    e = md.get_entity(1)
    e.columns[-1].expression = "CASE WHEN ID % 2 = 0 THEN 0 ELSE NULL END"
    p1 = Processing(spark, md, 1, "s1.parquet", {"processing.time": T0})
    p1.process("merge")
    assert silver(p1).count() == 6

    rows2 = [{"ID": i, "SeqNr": i + 10, "name": f"renamed{i}", "data": f"d{i}"} for i in range(6)]
    write_slice(spark, md, "s2.parquet", rows2)
    p2 = Processing(spark, md, 1, "s2.parquet", {"processing.time": T1})
    p2.process("merge")
    out = silver(p2)
    # every PK exactly once — the NULL-partition rows were replaced, not duplicated
    assert out.count() == 6
    assert out.select(p2.pk_name).distinct().count() == 6
    assert out.where(F.col("name").startswith("renamed")).count() == 6


def test_mor_merge_metrics_and_auto_compaction(spark, tmp_path, monkeypatch):
    """write_mode=mor: each merge appends one patch segment (no rewrite),
    the summary keeps the metric identity, and auto-compaction
    folds the patch tail back into a clean segment with identical state."""
    from datalakefoundation_spark.processing import Processing
    from tests.helpers import T0, T1, make_metadata, rows_v1, write_slice

    monkeypatch.setattr(Processing, "AUTO_OPTIMIZE_DEFAULT", 0)  # manual control

    md = make_metadata(str(tmp_path / "root"), watermark=False)
    opts = {"processing.time": T0, "write_mode": "mor"}
    write_slice(spark, md, "s0.parquet", rows_v1(40))
    Processing(spark, md, 1, "s0.parquet", opts).process()
    base_dirs = {
        s.dir for s in Processing(spark, md, 1, "s0.parquet", opts)
        .silver_table().latest_manifest().segments
    }

    # update 2 + insert 1: the patch is 3 rows; base segments untouched
    write_slice(spark, md, "s1.parquet", [
        {"ID": 0, "SeqNr": 100, "name": "nn", "data": "dd"},
        {"ID": 1, "SeqNr": 101, "name": "nn", "data": "dd"},
        {"ID": 900, "SeqNr": 102, "name": "new", "data": "x"},
    ])
    p = Processing(spark, md, 1, "s1.parquet", {**opts, "processing.time": T1})
    summary = p.process()
    assert summary.inserted == 1 and summary.updated == 2
    assert summary.records_in_slice == 3
    table = p.silver_table()
    mf = table.latest_manifest()
    assert mf.operation == "merge"
    # every pre-existing dir is still referenced as-is (nothing rewritten)
    assert base_dirs <= {s.dir for s in mf.segments}
    patch = [s for s in mf.segments if s.dir not in base_dirs]
    assert len(patch) == 1 and patch[0].rows == 3
    assert all(s.dv for s in mf.segments if s.dir in base_dirs)
    out = table.read()
    assert out.count() == 41
    assert {r["SeqNr"] for r in out.where(F.col("ID") == 0).collect()} == {100}

    # second mor run, then fold the patches
    write_slice(spark, md, "s2.parquet", [
        {"ID": 0, "SeqNr": 200, "name": "z", "data": "z"},
    ])
    p = Processing(
        spark, md, 1, "s2.parquet",
        {**opts, "processing.time": T1, "maintenance.auto_optimize": 1,
         "maintenance.compact_small_rows": 1000},
    )
    p.process()
    table = p.silver_table()
    mf = table.latest_manifest()
    assert mf.operation == "compact"
    assert all(not s.dv for s in mf.segments)
    out = table.read()
    assert out.count() == 41
    assert {r["SeqNr"] for r in out.where(F.col("ID") == 0).collect()} == {200}


def test_mor_identical_rerun_writes_touch_patch(spark, tmp_path):
    """Re-running a hash-identical slice in mor mode appends a touch-only
    patch (lastSeen refresh, reference Merge.scala:117 semantics) — the
    patch holds exactly the slice rows, and the read still shows one
    version per PK."""
    from datalakefoundation_spark.processing import Processing
    from tests.helpers import T0, T1, make_metadata, write_slice

    md = make_metadata(str(tmp_path / "root"), watermark=False)
    rows = [
        {"ID": 1, "SeqNr": 1, "name": "a", "data": "b"},
        {"ID": 2, "SeqNr": 2, "name": "c", "data": "d"},
    ]
    write_slice(spark, md, "s0.parquet", rows)
    Processing(
        spark, md, 1, "s0.parquet", {"processing.time": T0, "write_mode": "mor"}
    ).process()

    write_slice(spark, md, "s1.parquet", rows)
    p = Processing(
        spark, md, 1, "s1.parquet", {"processing.time": T1, "write_mode": "mor"}
    )
    summary = p.process()
    assert summary.records_in_slice == 2
    # the reference folds touches into updated (identity
    # inserted+updated+deleted == recordsInSlice, Merge.scala:124-145)
    assert summary.updated == 2 and summary.inserted == 0
    table = p.silver_table()
    mf = table.latest_manifest()
    assert mf.metrics.get("touch") == 2
    assert table.read().count() == 2
    assert mf.segments[-1].rows == 2  # the touch patch


def test_schema_evolution_additive_merge_mor(spark, lake_root, prefix):
    """Additive evolution composes with merge-on-read: the evolved column
    rides the patch segment; base-segment rows read typed NULLs through
    the unionByName, and DV masking still applies to updated rows."""
    md = make_metadata(lake_root, prefix)
    write_slice(spark, md, "s1.parquet", rows_v1(10))
    Processing(
        spark, md, 1, "s1.parquet", {"processing.time": T0, "write_mode": "mor"}
    ).process()

    write_slice(
        spark, md, "s2.parquet",
        [{**r, "data": r["data"] + "_v2", "extra": f"e{r['ID']}"} for r in rows_v1(6)],
    )
    p = Processing(
        spark, md, 1, "s2.parquet",
        {"processing.time": T1, "write_mode": "mor",
         "schema_evolution.additive": True},
    )
    p.process()
    out = silver(p)
    assert "extra" in out.columns
    assert out.count() == 10  # masked old versions not duplicated
    vals = {r["ID"]: r["extra"] for r in out.collect()}
    assert vals == {**{i: f"e{i}" for i in range(6)}, **{i: None for i in range(6, 10)}}
    # the evolved rows carry the updated payload (DV masked the originals)
    datas = {r["ID"]: r["data"] for r in out.collect()}
    assert all(datas[i].endswith("_v2") for i in range(6))
