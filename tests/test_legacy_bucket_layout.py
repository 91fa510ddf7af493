"""Tables written by older versions of the format, built by hand: the
retired PK-hash bucket layout (``Manifest.bucketing``, hive
``__dlf_bucket=N`` segments, flat patches holding the bucket column as
data) and hive-partitioned day tables. Reads return the model's rows
through the legacy per-segment path; the first merge rewrites a bucketed
table plain, and a run rewrites the partitions it touches flat."""

import pytest
from pyspark.sql import functions as F

from datalakefoundation_spark.processing import Processing
from datalakefoundation_spark.streaming import LakeStreamDataSource
from datalakefoundation_spark.tables.lake_table import BUCKET_COL, MASK_COL, LakeTable
from tests.helpers import (
    T0,
    T1,
    legacy_bucket,
    legacy_bucketed_table,
    legacy_hive_table,
    make_metadata,
    rows_v1,
    stamp_legacy_bucketing,
    write_slice,
)

N_BUCKETS = 4


def _build_legacy(spark, md):
    """Full-load 40 rows through Processing, then re-lay the table by hand
    as the retired layout wrote it: one bucketed segment, a later segment
    that took over one bucket (so the first no longer owns all its dirs),
    and a live patch. Returns (table path, model {ID: data})."""
    write_slice(spark, md, "s0.parquet", rows_v1(40))
    p = Processing(spark, md, 1, "s0.parquet", {"processing.time": T0})
    p.process()
    path, pk = p.silver_table().path, p.pk_name
    rows = p.silver_table().read().withColumn(BUCKET_COL, legacy_bucket(pk, N_BUCKETS))
    model = {r["ID"]: r["data"] for r in rows.collect()}

    t = legacy_bucketed_table(spark, path)
    t.overwrite(rows)
    t.vacuum(retain_last=1)  # the plain load is gone; history starts bucketed
    cur = t.read().withColumn(BUCKET_COL, legacy_bucket(pk, N_BUCKETS)).localCheckpoint()
    taken = cur.where(F.col("ID") == 0).first()[BUCKET_COL]
    in_b = cur.where(F.col(BUCKET_COL) == taken)
    t.replace_partitions(
        in_b.withColumn("data", F.concat(F.col("data"), F.lit("_taken"))),
        [{BUCKET_COL: str(taken)}],
    )
    model |= {r["ID"]: r["data"] + "_taken" for r in in_b.collect()}
    other = cur.where(F.col(BUCKET_COL) != taken).orderBy("ID").first()["ID"]
    t.merge_patch(
        cur.where(F.col("ID") == other)
        .withColumn("data", F.lit("patched"))
        .withColumn(MASK_COL, F.lit(True)),
        keys=[pk],
        mask_col=MASK_COL,
    )
    model[other] = "patched"
    stamp_legacy_bucketing(path, pk, N_BUCKETS)
    return path, model


def test_legacy_bucketed_table_reads_and_converts_on_merge(spark, lake_root, prefix):
    md = make_metadata(lake_root, prefix)
    path, model = _build_legacy(spark, md)
    t = LakeTable(spark, path)
    mf = t.latest_manifest()
    assert mf.bucketing["n"] == N_BUCKETS
    assert mf.partition_by == [BUCKET_COL]
    base, taker, patch = mf.segments
    assert not base.owns_all and taker.owns_all and patch.patch and base.dv
    assert any(
        d.startswith(f"{BUCKET_COL}=") for d in t.fs.listdir(f"{path}/{base.dir}")
    )
    # writes that would keep the bucketed segments are refused
    with pytest.raises(ValueError, match="bucket layout"):
        t.compact_small_segments()

    df = t.read()
    assert BUCKET_COL not in df.columns
    assert {r["ID"]: r["data"] for r in df.collect()} == model

    write_slice(spark, md, "s1.parquet", [
        {"ID": 1, "SeqNr": 41, "name": "n", "data": "merged"},
        {"ID": 50, "SeqNr": 50, "name": "n50", "data": "d50"},
    ])
    p = Processing(spark, md, 1, "s1.parquet", {"processing.time": T1})
    summary = p.process()
    assert summary.write_path == "rewrite"
    assert (summary.inserted, summary.updated) == (1, 1)
    model |= {1: "merged", 50: "d50"}

    mf = t.latest_manifest()
    assert mf.bucketing is None and mf.partition_by == []
    assert all(s.partitions is None for s in mf.segments)
    assert BUCKET_COL not in mf.schema.fieldNames()
    df = t.read()
    assert BUCKET_COL not in df.columns
    assert {r["ID"]: r["data"] for r in df.collect()} == model

    spark.dataSource.register(LakeStreamDataSource)
    feed = spark.read.format("lake_stream").option("path", path).load()
    assert BUCKET_COL not in feed.columns
    last = feed.where(F.col("_commit_version") == mf.version)
    assert {r["ID"]: r["data"] for r in last.collect()} == model


def test_legacy_partitioned_table_reads_and_converts_touched_partitions(
    spark, lake_root, prefix
):
    """A partitioned SCD2 table laid out as older versions wrote it — one
    hive segment (``Administration=N`` dirs) and a live flat patch — reads
    the model's rows. An SCD2 run touching only Administration=1 rewrites
    that partition as a flat segment and leaves Administration=0 in the
    hive segment; rows still equal the model."""
    md = make_metadata(lake_root, prefix, processtype="historic", partitioned=True)
    write_slice(spark, md, "s0.parquet", rows_v1(10))
    p = Processing(spark, md, 1, "s0.parquet", {"processing.time": T0})
    p.process()
    path, pk = p.silver_table().path, p.pk_name
    cur_c = f"{prefix}IsCurrent"
    rows = p.silver_table().read().localCheckpoint()

    t = legacy_hive_table(spark, path, ["Administration"])
    t.overwrite(rows)
    t.vacuum(retain_last=1)  # the flat load is gone; history starts hive
    t.merge_patch(
        rows.where(F.col("ID") == 3)
        .withColumn("data", F.lit("patched"))
        .withColumn(MASK_COL, F.lit(True)),
        keys=[pk, f"{prefix}ValidFrom"],
        mask_col=MASK_COL,
    )
    model = {(i, f"data{i}", True) for i in range(10) if i != 3} | {(3, "patched", True)}

    def state():
        return {(r["ID"], r["data"], r[cur_c]) for r in LakeTable(spark, path).read().collect()}

    mf = LakeTable(spark, path).latest_manifest()
    base, patch = mf.segments
    assert base.hive and not patch.hive and patch.patch
    assert any(d.startswith("Administration=") for d in t.fs.listdir(f"{path}/{base.dir}"))
    assert state() == model

    write_slice(spark, md, "s1.parquet", [
        {"ID": 1, "SeqNr": 11, "name": "n", "data": "merged"},
        {"ID": 51, "SeqNr": 51, "name": "n51", "data": "d51"},
    ])
    p = Processing(spark, md, 1, "s1.parquet", {"processing.time": T1})
    summary = p.process()
    assert summary.write_path == "rewrite"
    assert (summary.inserted, summary.updated) == (1, 1)
    model = (model - {(1, "data1", True)}) | {
        (1, "data1", False), (1, "merged", True), (51, "d51", True)
    }

    mf = LakeTable(spark, path).latest_manifest()
    hive = [s for s in mf.segments if s.hive]
    flat = [s for s in mf.segments if not s.hive]
    assert [s.partitions for s in hive] == [[{"Administration": "0"}]]
    assert [s.partitions for s in flat] == [[{"Administration": "1"}]]
    assert not any("=" in d for d in t.fs.listdir(f"{path}/{flat[0].dir}"))
    assert state() == model
