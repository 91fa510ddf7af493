"""Tables of the retired PK-hash bucket layout (``Manifest.bucketing``, hive
``__dlf_bucket=N`` segments, flat patches holding the bucket column as
data): reads return the model's rows through the per-segment partitioned
path, and the first merge rewrites the table plain."""

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
