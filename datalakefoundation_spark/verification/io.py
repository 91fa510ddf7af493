"""Session-scoped cached parquet readers for verification queries.

Every ``spark.read.parquet(path)`` pays file listing + footer schema
inference (~0.16 s measured at sf0.1) even when the same table was read
moments earlier — and the registry's 50+ queries each re-read their
inputs on every build, so merge-family queries paid ~0.3 s of pure
driver-side re-listing per invocation. DataFrames are immutable plan
objects, so the reader result is safely reusable: cache it per
(session, path, file-mtime).

* Keyed weakly on the SparkSession so a stopped/garbage-collected
  session never serves stale plans to a new one (test suites create many
  sessions).
* The file mtime is part of the key so a rewritten fixture (tests that
  regenerate a tmp table in place) re-lists instead of reading a stale
  file index.

This is a driver-side concern only; executors never see the cache. At
cluster scale the same role is played by the catalog (a saved table
resolves without re-inference).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Cached ``spark.read.parquet(f"{sf_dir}/{name}.parquet")``."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        # ns-resolution + size: whole-second mtime would serve a stale
        # cached plan for a fixture regenerated in place within one second
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = (-1, -1)
    per = _CACHE.setdefault(spark, {})
    key = (path, stamp)
    df = per.get(key)
    if df is None:
        df = per[key] = spark.read.parquet(path)
    return df

