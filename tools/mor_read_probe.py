"""Merge-on-read read-amplification probe: wall time of a full table read
as live patches accumulate, and after compaction folds them — the number
that sets the auto-compaction cadence for mor entities (each live patch
adds one segment and one mask dir to every read).

Usage: python tools/mor_read_probe.py [n_rows] [patch_rows]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else max(n // 1000, 1)

    from pyspark.sql import functions as F

    from datalakefoundation_spark.session import get_spark
    from datalakefoundation_spark.tables.lake_table import MASK_COL, LakeTable

    spark = get_spark("mor-read-probe", master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    def timed_read(t):
        best = float("inf")
        for _ in range(2):  # min-of-2: codegen JIT is per plan shape
            s = time.time()
            t.read().count()
            best = min(best, time.time() - s)
        return round(best, 2)

    results = {}
    with tempfile.TemporaryDirectory() as root:
        t = LakeTable(spark, f"{root}/t", bucket_pk="pk", n_buckets=32)
        base = spark.range(n).select(
            F.sha2(F.col("id").cast("string"), 256).alias("pk"),
            F.col("id").alias("val"),
            F.sha2(F.col("id").cast("string"), 512).alias("payload"),
        )
        t.overwrite(base)
        results["patches_0"] = timed_read(t)
        checkpoints = {8, 16, 32}
        for i in range(max(checkpoints)):
            patch = spark.range(i * k, (i + 1) * k).select(
                F.sha2(F.col("id").cast("string"), 256).alias("pk"),
                (F.col("id") + 1_000_000_000).alias("val"),
                F.sha2(F.col("id").cast("string"), 512).alias("payload"),
                F.lit(True).alias(MASK_COL),
            )
            t.merge_patch(patch, keys=["pk"], mask_col=MASK_COL)
            if (i + 1) in checkpoints:
                results[f"patches_{i + 1}"] = timed_read(t)
        t.compact_small_segments(small_rows=n)  # fold everything
        results["after_compaction"] = timed_read(t)
        print(
            {"probe": "mor_read_amplification", "n_rows": n, "patch_rows": k,
             "seconds": results},
            flush=True,
        )


if __name__ == "__main__":
    main()
