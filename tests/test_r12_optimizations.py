"""Pins for the r12 optimization-round hardening changes.

None of these changed any operator's rows; they changed failure modes:
* the blocked ANN kernels process buckets/cells in ROW CHUNKS so a
  degenerate bucket can no longer OOM a Python worker (ADVICE r11) —
  pinned bit-identical against the single-chunk form;
* the blocked tri-state refuses / avoids non-integral id columns instead
  of crashing mid-job depending on a size estimate, and casts narrower
  integral ids back so the auto pick cannot change the output schema;
* merge/SCD2 state plans contain no shuffled-hash join, so an unbounded
  bootstrap slice can never become an unspillable hash-map build;
* ``train_bigram_lm`` materializes the reused unigram table with a
  lineage-keeping persist (executor-loss-safe) instead of
  ``localCheckpoint`` — still exactly one corpus scan in the plan.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalakefoundation_spark import strategies as S
from datalakefoundation_spark.ext import similarity as SIM

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# --------------------------------------------------------- chunked kernels


def test_blocked_chunked_row_identical(spark, embs, monkeypatch):
    """A chunk budget far below any bucket width forces every blocked
    kernel through multi-chunk processing; per-pair arithmetic is
    independent of batch composition, so rows must be BIT-identical to
    the single-chunk (default) form for all five entry points."""
    sub = embs.where(F.col("vec_id") < 400)
    plain = {
        "lsh": _rows(SIM.lsh_topk(sub, k=3, blocked=True)),
        "near": _rows(
            SIM.lsh_near_dup_scored(sub, threshold=0.3, blocked=True)
        ),
        "sem": _rows(SIM.semantic_dedup(sub, threshold=0.45, blocked=True)),
        "ivf": _rows(
            SIM.ivf_topk(sub, k=3, query_stride=10, nprobe=2, blocked=True)
        ),
        "pq": _rows(
            SIM.ivf_pq_topk(
                sub, k=3, query_stride=10, nprobe=2, rerank=8, blocked=True
            )
        ),
    }
    # 64 cells -> single-digit rows per chunk against bucket widths in the
    # tens: every kernel takes the multi-chunk path
    monkeypatch.setattr(SIM, "_BLOCKED_CHUNK_CELLS", 64)
    chunked = {
        "lsh": _rows(SIM.lsh_topk(sub, k=3, blocked=True)),
        "near": _rows(
            SIM.lsh_near_dup_scored(sub, threshold=0.3, blocked=True)
        ),
        "sem": _rows(SIM.semantic_dedup(sub, threshold=0.45, blocked=True)),
        "ivf": _rows(
            SIM.ivf_topk(sub, k=3, query_stride=10, nprobe=2, blocked=True)
        ),
        "pq": _rows(
            SIM.ivf_pq_topk(
                sub, k=3, query_stride=10, nprobe=2, rerank=8, blocked=True
            )
        ),
    }
    assert plain == chunked


def test_blocked_chunked_null_vectors(spark, embs, monkeypatch):
    """NULL-vector tri-state (NULL cosine, never NaN, never dropped)
    survives the chunked path — the NULL mask is applied per chunk."""
    vec_type = embs.schema["embedding"].dataType
    nulled = embs.where(F.col("vec_id") < 120).withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 7 == 0, F.lit(None).cast(vec_type)
        ).otherwise(F.col("embedding")),
    )
    want = _rows(SIM.lsh_topk(nulled, k=3, blocked=True))
    monkeypatch.setattr(SIM, "_BLOCKED_CHUNK_CELLS", 64)
    assert _rows(SIM.lsh_topk(nulled, k=3, blocked=True)) == want


# ------------------------------------------------------------ id-type gate


def test_blocked_true_rejects_non_integral_ids(spark, embs):
    strs = embs.withColumn(
        "vec_id", F.concat(F.lit("doc_"), F.col("vec_id").cast("string"))
    )
    with pytest.raises(TypeError, match="integral id"):
        SIM.lsh_topk(strs, k=3, blocked=True)
    with pytest.raises(TypeError, match="integral id"):
        SIM.lsh_near_dup_scored(strs, threshold=0.3, blocked=True)


def test_blocked_auto_keeps_per_pair_for_string_ids(spark, embs, monkeypatch):
    """blocked=None must not crash (or change the id type) on string ids
    even when the size estimate crosses the floor: the per-pair form is
    kept and preserves the id column type."""
    monkeypatch.setattr(SIM, "_LSH_BLOCKED_MIN_BYTES", 0)
    strs = embs.where(F.col("vec_id") < 60).withColumn(
        "vec_id", F.concat(F.lit("doc_"), F.col("vec_id").cast("string"))
    )
    out = SIM.lsh_topk(strs, k=2)
    assert isinstance(out.schema["query_id"].dataType, T.StringType)
    assert out.count() > 0


def test_blocked_int_ids_cast_back(spark, embs, monkeypatch):
    """Integral-but-narrower ids: the blocked kernels compute in int64 but
    the output schema must match the per-pair form's (input id type), so
    the adaptive pick can never change the schema."""
    ints = embs.where(F.col("vec_id") < 200).withColumn(
        "vec_id", F.col("vec_id").cast("int")
    )
    blocked = SIM.lsh_topk(ints, k=2, blocked=True)
    perpair = SIM.lsh_topk(ints, k=2, blocked=False)
    assert blocked.schema == perpair.schema
    assert _rows(blocked) == _rows(perpair)
    sem_b = SIM.semantic_dedup(ints, threshold=0.45, blocked=True)
    sem_p = SIM.semantic_dedup(ints, threshold=0.45, blocked=False)
    assert sem_b.schema == sem_p.schema
    assert _rows(sem_b) == _rows(sem_p)


# ------------------------------------------- no shuffled-hash state joins


def _merge_inputs(spark, n_source: int):
    target = spark.range(0, 50).select(
        F.sha2(F.col("id").cast("string"), 256).alias("PK_k"),
        F.col("id").alias("v"),
        F.sha2(F.concat(F.lit("h"), F.col("id").cast("string")), 256).alias(
            "SourceHash"
        ),
        F.lit(False).alias("deleted"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("lastSeen"),
    )
    source = spark.range(25, 25 + n_source).select(
        F.sha2(F.col("id").cast("string"), 256).alias("PK_k"),
        (F.col("id") * 10).alias("v"),
        F.sha2(F.concat(F.lit("g"), F.col("id").cast("string")), 256).alias(
            "SourceHash"
        ),
        F.lit(False).alias("deleted"),
        F.lit("2026-02-01 00:00:00").cast("timestamp").alias("lastSeen"),
    )
    return target, source


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_state_plans_have_no_shuffled_hash_join(spark):
    """A small target meeting a large source (the bootstrap-load shape):
    neither merge_state nor scd2_state plans a ShuffledHashJoin, whose
    build map cannot spill."""
    target, source = _merge_inputs(spark, n_source=2_000_000)
    plan = _plan(S.merge_state(target, source, "PK_k"))
    assert "ShuffledHashJoin" not in plan, plan

    def temporal(df, valid_from):
        return (
            df.withColumn("ValidFrom", F.lit(valid_from).cast("timestamp"))
            .withColumn("ValidTo", F.lit(S.VALID_TO_SENTINEL).cast("timestamp"))
            .withColumn("IsCurrent", F.lit(True))
        )

    plan = _plan(
        S.scd2_state(
            temporal(target, "2026-01-01 00:00:00"),
            temporal(source, "2026-02-01 00:00:00"),
            "PK_k",
        )
    )
    assert "ShuffledHashJoin" not in plan, plan


# ----------------------------------------------------------- LM persist


def test_bigram_lm_single_corpus_scan_and_lineage(spark):
    """The reused unigram table materializes through a lineage-keeping
    persist: the plan holds InMemoryRelation (single corpus scan per
    consumer subtree) and NO localCheckpoint-style LogicalRDD scan, so an
    executor loss recomputes instead of failing the job."""
    from datalakefoundation_spark.ext.lm import train_bigram_lm

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    uni, bi = train_bigram_lm(docs, vocab_size=100)
    plan = uni._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan, plan
    # lineage kept: the cached relation's child is the real aggregation,
    # not an opaque checkpointed RDD scan
    assert "LogicalRDD" not in plan, plan
    spark.catalog.clearCache()
