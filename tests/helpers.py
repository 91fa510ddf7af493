"""Shared fixtures for strategy tests (modeled on FIXTURES.md F1/F2)."""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalakefoundation_spark.metadata.models import Metadata
from datalakefoundation_spark.metadata.sources import StringMetadataSettings
from datalakefoundation_spark.tables.lake_table import (
    BUCKET_COL,
    PARQUET_CODEC,
    LakeTable,
    Manifest,
    Segment,
    _evolve_schema,
)

T0 = "2026-01-01 00:00:00"
T1 = "2026-02-01 00:00:00"
T2 = "2026-03-01 00:00:00"


def make_metadata(
    root: str,
    prefix: str = "",
    processtype: str = "merge",
    partitioned: bool = False,
    delete_missing: bool = False,
    watermark: bool = True,
) -> Metadata:
    columns = [
        {"name": "ID", "fieldroles": ["businesskey"]},
    ]
    if partitioned:
        columns.append(
            {
                "name": "",
                "newname": "Administration",
                "datatype": "integer",
                "fieldroles": ["calculated", "partition"],
                "expression": "ID % 2",
            }
        )
    entity = {
        "id": 1,
        "name": "person",
        "enabled": True,
        "connection": "testconn",
        "processtype": processtype,
        "watermark": (
            [{"column_name": "SeqNr", "operation": "and", "operation_group": 0,
              "expression": "'${last_value}'"}]
            if watermark
            else []
        ),
        "columns": columns,
        "settings": {"delete_missing": delete_missing},
        "transformations": [],
    }
    config = {
        "environment": {
            "name": "TEST",
            "timezone": "UTC",
            "root_folder": root,
            "systemfield_prefix": prefix,
            "output": "paths",
        },
        "connections": [{"name": "testconn", "enabled": True, "settings": {}}],
        "entities": [entity],
    }
    return Metadata(StringMetadataSettings().initialize(json.dumps(config)))


def write_slice(spark, metadata, slice_name: str, rows: list[dict]):
    """Write a bronze slice parquet for entity 1."""
    entity = metadata.get_entity(1)
    bronze = entity.get_output().bronzepath.value
    df = spark.createDataFrame(rows)
    df.coalesce(1).write.mode("overwrite").parquet(f"{bronze}/{slice_name}")


def rows_v1(n=10):
    return [{"ID": i, "SeqNr": i, "name": f"name{i}", "data": f"data{i}"} for i in range(n)]


def legacy_bucket(pk_col: str, n_buckets: int):
    """Bucket id of the retired PK-hash bucket layout: the first 4 hex
    chars of the sha256 key, modulo the bucket count."""
    return F.pmod(
        F.conv(F.substring(F.col(pk_col), 1, 4), 16, 10).cast("int"), F.lit(n_buckets)
    )


def legacy_hive_table(spark, path: str, partition_by, stats_columns=()):
    """A LakeTable that writes the on-disk shape of older versions of the
    format, which the package no longer writes: base segments as hive
    ``partitionBy`` dirs whose ownership is listed from the dir names,
    flat patches, and manifests without the ``Segment.hive`` field — so
    reads classify the segments the way they classify a real old
    manifest."""
    return _LegacyHiveTable(
        spark, path, partition_by=partition_by, stats_columns=stats_columns
    )


def legacy_bucketed_table(spark, path: str, stats_columns=()):
    """A ``legacy_hive_table`` of the retired PK-hash bucket layout: hive
    segments partitioned by ``__dlf_bucket`` (frames must carry it, see
    ``legacy_bucket``), flat patches holding it as data.
    ``stamp_legacy_bucketing`` then marks the manifests the way that
    layout recorded itself."""
    return legacy_hive_table(spark, path, [BUCKET_COL], stats_columns=stats_columns)


def _hive_partitions(base: str, partition_by) -> list[dict]:
    """Partition values of a hive segment dir, from its dir names (a NULL
    value is hive's default-partition sentinel)."""
    out: list[dict] = []

    def walk(d: str, acc: dict, depth: int) -> None:
        if depth == len(partition_by):
            out.append(dict(acc))
            return
        for name in sorted(os.listdir(d)):
            if "=" in name and os.path.isdir(f"{d}/{name}"):
                k, _, v = name.partition("=")
                v = None if v == "__HIVE_DEFAULT_PARTITION__" else v
                walk(f"{d}/{name}", {**acc, k: v}, depth + 1)

    walk(base, {}, 0)
    return out


class _LegacyHiveTable(LakeTable):
    def _write_segment(self, df, mf, evolve=True, patch=False):
        if patch:
            return super()._write_segment(df, mf, evolve, patch=True)
        prev = self._schema(mf) if mf is not None and evolve else None
        if prev is not None and mf.schema is None:
            prev = T.StructType([f for f in prev.fields if f.name not in mf.partition_by])
        schema = _evolve_schema(prev, df.schema, self.partition_by)
        next_v = (mf.version + 1) if mf else 0
        seg_rel = f"data/v{next_v:05d}-{uuid.uuid4().hex[:8]}"
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").option(
            "compression", PARQUET_CODEC
        ).partitionBy(*self.partition_by).parquet(f"{self.path}/{seg_rel}")
        seg = Segment(
            seg_rel,
            _hive_partitions(f"{self.path}/{seg_rel}", self.partition_by),
            rows=int(obs.get["n"]),
            files=self._collect_file_stats(seg_rel),
            hive=True,
        )
        return seg, schema

    def _commit(self, manifest: Manifest) -> None:
        obj = json.loads(manifest.to_json())
        for seg in obj["segments"]:
            del seg["hive"]
        self.fs.create_exclusive(
            f"{self._manifest_dir}/v{manifest.version:05d}.json", json.dumps(obj, indent=1)
        )


def stamp_legacy_bucketing(path: str, pk_col: str, n_buckets: int) -> None:
    """Record ``bucketing`` in every manifest of the table at ``path`` that
    is partitioned by ``__dlf_bucket``, as every commit of the retired
    bucket layout did."""
    d = f"{path}/_manifest"
    for name in os.listdir(d):
        if not name.endswith(".json"):
            continue
        with open(f"{d}/{name}") as fh:
            obj = json.load(fh)
        if obj["partition_by"] != [BUCKET_COL]:
            continue
        obj["bucketing"] = {"pk": pk_col, "n": n_buckets}
        with open(f"{d}/{name}", "w") as fh:
            json.dump(obj, fh)


def find_bridge_fixture(spark):
    """Deterministic near-dup BRIDGE geometry for incremental-dedup tests:
    docs 1/2 and 3/4 form two separate near-dup clusters, doc 10 contains
    both clusters' shingle sets (the bridge), and no direct 1-4 cross pair
    exists. MinHash banding is salt-sensitive, so search salts until the
    candidate graph has exactly that shape (same loop the r8 prefix-
    consistency test pinned)."""
    from pyspark.sql import SparkSession  # noqa: F401

    from datalakefoundation_spark.ext.dedup import minhash_dedup_candidates

    for salt in range(40):
        wa = [f"a{salt}w{i}" for i in range(40)]
        wb = [f"b{salt}w{i}" for i in range(40)]
        a, a2 = " ".join(wa), " ".join(wa[:-1] + ["zz1"])
        b, b2 = " ".join(wb), " ".join(wb[:-1] + ["zz2"])
        w = a2 + " " + b2
        all_docs = spark.createDataFrame(
            [(1, a), (2, a2), (3, b), (4, b2), (10, w)],
            "doc_id long, text string",
        )
        got = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_dedup_candidates(all_docs).collect()
        }
        cross = {(x, y) for x in (1, 2) for y in (3, 4)}
        if (
            any(p in got for p in [(1, 10), (2, 10)])
            and any(p in got for p in [(3, 10), (4, 10)])
            and not (cross & got)
            and (1, 2) in got
            and (3, 4) in got
        ):
            return all_docs
    raise AssertionError("no salt produced the bridge geometry")
