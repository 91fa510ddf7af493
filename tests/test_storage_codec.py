"""The lake format's one storage codec (``lake_table.PARQUET_CODEC``): every
parquet file a writer of the package lands in the lake is zstd-compressed
whatever the session's default, and segments written with another codec
(snappy, the format's codec before zstd) stay readable until compaction
rewrites them."""

import datetime as dt
import os
import re

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datalakefoundation_spark.log import LogEntry, ParquetLogSink
from datalakefoundation_spark.tables.lake_table import (
    MASK_COL,
    PARQUET_CODEC,
    LakeTable,
)
from datalakefoundation_spark.watermark import WatermarkStore


def _parquet_files(root):
    for d, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                yield os.path.join(d, n)


def _codecs(path) -> set[str]:
    md = pq.ParquetFile(path).metadata
    return {
        md.row_group(i).column(j).compression
        for i in range(md.num_row_groups)
        for j in range(md.num_columns)
    }


def _base(spark, n):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def _patch(spark, updates: dict[int, int], inserts: dict[int, int]):
    """Patch rows: updates mask their old version, inserts mask nothing."""
    rows = [(k, v, True) for k, v in updates.items()] + [
        (k, v, False) for k, v in inserts.items()
    ]
    return spark.createDataFrame(rows, f"k long, v long, {MASK_COL} boolean")


def _state(t):
    return {r["k"]: r["v"] for r in t.read().collect()}


def test_every_lake_writer_writes_the_table_codec(spark, tmp_path):
    """Segments, patches, a delete_keys dv dir, a compaction's folded
    segment and merged dv dir, the watermark appends and their compaction,
    and a parquet log flush all report zstd in every column chunk — with
    the session's own parquet codec set to snappy, so the codec is the
    writer's, not the session's."""
    root = str(tmp_path / "lake")
    conf = "spark.sql.parquet.compression.codec"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "snappy")
    try:
        t = LakeTable(spark, f"{root}/silver")
        t.overwrite(_base(spark, 2000))
        t.merge_patch(_patch(spark, {1: -1}, {5000: 5}), keys=["k"], mask_col=MASK_COL)
        t.merge_patch(_patch(spark, {2: -2}, {5001: 6}), keys=["k"], mask_col=MASK_COL)
        t.delete_keys(spark.createDataFrame([(3,)], "k long"), keys=["k"])
        base_dir = t.latest_manifest().segments[0].dir
        # the 2000-row base stays; the two patches fold and the base's
        # three dv refs coalesce into one merged dv dir
        assert len(t.compact_small_segments(small_rows=1000)) == 2
        base = next(s for s in t.latest_manifest().segments if s.dir == base_dir)
        assert len(base.dv) == 1 and base.dv[0]["dir"].startswith("data/v00004-dv-")
    finally:
        spark.conf.set(conf, old)
    model = {k: 10 * k for k in range(2000)}
    model.update({1: -1, 2: -2, 5000: 5, 5001: 6})
    del model[3]
    assert _state(t) == model

    w = WatermarkStore(spark, root)
    for i in range(WatermarkStore.COMPACT_THRESHOLD + 1):
        w.write(i, {"ts": ("str", str(i))})
    assert len(w.table.latest_manifest().segments) == 1  # compacted
    ParquetLogSink(spark, f"{root}/logs").write_batch(
        [LogEntry(dt.datetime(2026, 1, 1), "INFO", "m", None, None, "r")]
    )

    # a task with no rows writes a footer without column chunks: no codec
    codecs = {os.path.relpath(f, root): _codecs(f) for f in _parquet_files(root)}
    codecs = {f: c for f, c in codecs.items() if c}
    assert {f.split("/")[0] for f in codecs} == {"silver", "system", "logs"}
    kinds = {re.search(r"data/v\d{5}-([a-z]+)-", f) for f in codecs}
    assert {m.group(1) for m in kinds if m} == {"dv", "compact"}
    assert PARQUET_CODEC == "zstd"
    assert {f: c for f, c in codecs.items() if c != {"ZSTD"}} == {}


def test_snappy_segments_stay_readable_and_compact_to_zstd(spark, tmp_path):
    """A lake written before zstd holds snappy segments: with one base
    segment's files rewritten as snappy in place, reads, a merge_patch and
    the compaction that folds both match a dict model, and the folded
    segment is zstd."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(_base(spark, 300))
    model = {k: 10 * k for k in range(300)}
    seg_dir = f"{t.path}/{t.latest_manifest().segments[0].dir}"
    old_files = list(_parquet_files(seg_dir))
    assert old_files
    for f in old_files:
        pq.write_table(pq.ParquetFile(f).read(), f, compression="snappy")
        # the Hadoop checksum sidecar of the zstd file no longer matches
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        assert _codecs(f) == {"SNAPPY"}
    assert _state(t) == model

    t.merge_patch(
        _patch(spark, {7: -7, 299: -299}, {1000: 1}), keys=["k"], mask_col=MASK_COL
    )
    model.update({7: -7, 299: -299, 1000: 1})
    assert _state(t) == model

    folded = t.compact_small_segments(small_rows=10_000)
    assert len(folded) == 2
    mf = t.latest_manifest()
    assert len(mf.segments) == 1 and not mf.segments[0].dv
    new_files = list(_parquet_files(f"{t.path}/{mf.segments[0].dir}"))
    assert new_files and all(_codecs(f) == {"ZSTD"} for f in new_files)
    assert _state(t) == model


def test_watermark_write_reads_the_manifest_once(spark, tmp_path, monkeypatch):
    """WatermarkStore.write decides on compaction from the manifest its
    append committed instead of re-reading the latest one."""
    w = WatermarkStore(spark, str(tmp_path / "lake"))
    w.write(1, {"a": ("int", "1")})
    calls = []
    real = LakeTable.latest_manifest
    monkeypatch.setattr(
        LakeTable, "latest_manifest", lambda self: calls.append(1) or real(self)
    )
    w.write(1, {"a": ("int", "2")})
    assert len(calls) == 1
    assert w.latest(1) == {"a": "2"}
