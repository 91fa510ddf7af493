"""Shared helpers for the extension operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_compute_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the input has fewer partitions than the
    cluster can use, or cannot show how many it has.

    Compute-heavy operators (minhash shingling, simhash, cosine scoring) do
    10-100x more work per row than the scan; their parallelism must not be
    capped by the file layout. Parquet row groups are the split unit — a
    single-row-group file (or any layout with fewer splits than cores) would
    run the whole operator on that few tasks. When the source already has
    enough partitions (the normal case for a 100 TB table), this is a no-op
    and costs nothing; when it fires, the one extra shuffle of raw input is
    amortized against the much larger per-row compute.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # inputFiles() is a cheap file-listing probe (~ms); df.rdd would force
    # full physical planning on the driver (~1 s per call). File count
    # under-estimates splits for large multi-row-group files, which only
    # makes this MORE of a no-op at scale — exactly when it should be.
    # A frame with no input files (a cached frame reports none, whatever
    # it was read from) shows its partitions only through its physical
    # plan (planned, not run: ~1-30 ms on a 4-core host): a shuffle,
    # repartition or range reports a count; a cache, local data or a
    # Python RDD reports none and gets the fan-out.
    try:
        n_parts = len(df.inputFiles()) or _planned_partitions(df)
    except Exception:
        return df
    if n_parts < target:
        return df.repartition(target)
    return df


def _planned_partitions(df: DataFrame) -> int:
    """Partition count the frame's physical plan reports before it runs
    (adaptive execution's input plan, where that wraps it); 0 when the
    plan does not know it."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.inputPlan()
    return plan.outputPartitioning().numPartitions()


def plan_size_bytes(df: DataFrame) -> int | None:
    """Optimizer-estimated input size (file-length-derived for parquet
    scans, scaled by column pruning; available at plan-build time with
    zero jobs); None when the estimate is unavailable.

    "Unavailable" includes Catalyst's sizeInBytes SENTINEL: plans with no
    real statistics (``LogicalRDD``, ``createDataFrame`` LocalRelations
    above the eager-size threshold) report ``spark.sql.defaultSizeInBytes``
    = Long.MaxValue, not a measurement (verified empirically, r12). Mapping
    the sentinel to None keeps every size-adaptive knob's documented
    "unknown -> scale-safe branch" semantics while never presenting 2^63-1
    as a real estimate to logs or floors."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return None if est >= (1 << 62) else est


def size_adaptive_flag(df: DataFrame, flag: bool | None, floor: int) -> bool:
    """Resolve a tri-state strategy knob by input size (guide §3.1 "pick
    the strategy by size"): an explicit True/False wins; ``None`` picks
    True iff the optimizer's plan-build-time size estimate for ``df``
    reaches ``floor`` bytes. Unknown size chooses True — every caller's
    True branch is its scale-safe form. Data-dependent and
    core-count-independent, so the driver's low-core re-run takes the same
    path."""
    if flag is not None:
        return bool(flag)
    est = plan_size_bytes(df)
    return est is None or est >= floor
