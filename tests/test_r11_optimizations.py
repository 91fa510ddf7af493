"""Row-identity pins for the r11 optimization-round internal changes.

Every change here altered an operator's *implementation*, never its rows:
* ``lsh_topk`` now expands and scores candidate pairs bucket-blocked inside
  the band groups (``_banded_pairs_scored_blocked``) instead of shipping
  2 x dim doubles per pair through ArrowEvalPython — pinned against the
  per-pair formulation it replaced, including NULL vectors and bucket caps.
* ``minhash_signature`` aggregates the hex slices as longs (HashAggregate)
  instead of strings (SortAggregate) — pinned against the string-min form.
* ``banded_incremental_candidates`` anti-joins the frontier's doc ids out
  of the stored prior bands, so a re-ingested id's STALE band rows can no
  longer contribute edges the signature path would not (ADVICE r10).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datalakefoundation_spark.ext import dedup as D
from datalakefoundation_spark.ext import similarity as SIM
from datalakefoundation_spark.ext.util import plan_size_bytes

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def _topk_rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in df.collect()
    )


def _per_pair_lsh_topk(df, k=3, bands=4, planes_per_band=8, dim=64,
                       max_bucket_width=None):
    """The pre-r11 per-pair formulation, kept inline as the reference."""
    pairs = SIM._banded_pairs(
        df, "vec_id", "embedding", bands, planes_per_band, dim,
        ordered=False, with_vectors=True, max_bucket_width=max_bucket_width,
    )
    scored = pairs.select(
        F.col("a.__id").alias("query_id"),
        F.col("b.__id").alias("neighbor_id"),
        D.cosine_similarity(F.col("a.__v"), F.col("b.__v")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def test_lsh_topk_blocked_row_identical(spark, embs):
    assert _topk_rows(SIM.lsh_topk(embs, k=3, blocked=True)) == _topk_rows(
        _per_pair_lsh_topk(embs, k=3)
    )


def test_lsh_topk_auto_picks_by_input_size(spark, embs, monkeypatch):
    """blocked=None sizes the input from plan stats: a tiny corpus takes the
    per-pair codegen path, a floor of 0 forces blocked — and both return
    identical rows (the declared query's results cannot depend on the pick)."""
    est = plan_size_bytes(embs)
    assert est is not None and 0 < est < SIM._LSH_BLOCKED_MIN_BYTES
    auto = _topk_rows(SIM.lsh_topk(embs, k=3))
    monkeypatch.setattr(SIM, "_LSH_BLOCKED_MIN_BYTES", 0)
    forced = _topk_rows(SIM.lsh_topk(embs, k=3))
    assert auto == forced == _topk_rows(SIM.lsh_topk(embs, k=3, blocked=False))


def test_lsh_topk_blocked_cap_and_clones(spark, embs):
    """Clones force multi-band collisions (first-matching-band dedup) and
    the bucket cap trims the same deterministic member set."""
    clone = embs.limit(3).withColumn("vec_id", F.col("vec_id") + 100000)
    both = embs.unionByName(clone)
    got = SIM.lsh_topk(both, k=2, max_bucket_width=16, blocked=True)
    want = _per_pair_lsh_topk(both, k=2, max_bucket_width=16)
    assert _topk_rows(got) == _topk_rows(want)


def test_lsh_topk_blocked_null_vectors(spark, embs):
    """NULL embeddings take the all-'0' signature bucket and must surface
    NULL cosine (not NaN, not dropped) exactly like the per-pair form."""
    vec_type = embs.schema["embedding"].dataType
    nulled = embs.where(F.col("vec_id") < 40).withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 7 == 0, F.lit(None).cast(vec_type)
        ).otherwise(F.col("embedding")),
    )
    got = _topk_rows(SIM.lsh_topk(nulled, k=3, blocked=True))
    want = _topk_rows(_per_pair_lsh_topk(nulled, k=3))
    assert got == want


def test_ivf_topk_blocked_null_vectors(spark, embs):
    """NULL embeddings land in a cell (all-NULL centroid scores rank by
    lowest cluster_id) and must surface NULL cosine — not NaN, not dropped
    — exactly like the per-pair form, through the cell-blocked scorer."""
    vec_type = embs.schema["embedding"].dataType
    nulled = embs.where(F.col("vec_id") < 120).withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 7 == 0, F.lit(None).cast(vec_type)
        ).otherwise(F.col("embedding")),
    )
    got = _topk_rows(
        SIM.ivf_topk(nulled, k=3, query_stride=10, nprobe=2, blocked=True)
    )
    want = _topk_rows(
        SIM.ivf_topk(nulled, k=3, query_stride=10, nprobe=2, blocked=False)
    )
    assert got == want
    # the NULL-query rows exist and carry NULL cosine in both forms
    assert any(c is None for (_q, _r, _n, c) in got)


def test_ivf_pq_blocked_row_identical(spark, embs):
    """The cell-blocked ADC stage (cogrouped per-cell scoring + exact
    per-cell partial top-rerank + qv join-back) must reproduce the
    per-pair ADC shortlist — and therefore the exact re-ranked output —
    row for row, in both the raw and residual (FAISS) encodings."""
    kw = dict(k=3, query_stride=25, nprobe=2, rerank=8)
    got = _topk_rows(SIM.ivf_pq_topk(embs, blocked=True, **kw))
    want = _topk_rows(SIM.ivf_pq_topk(embs, blocked=False, **kw))
    assert got == want and len(want) > 0
    got_r = _topk_rows(SIM.ivf_pq_topk(embs, blocked=True, residual=True, **kw))
    want_r = _topk_rows(SIM.ivf_pq_topk(embs, blocked=False, residual=True, **kw))
    assert got_r == want_r and len(want_r) > 0


def test_ivf_pq_blocked_null_vectors(spark, embs):
    """NULL embeddings produce NULL codes and NULL adc (sorted below every
    real score, including genuine -inf) yet stay in the candidate stream,
    surfacing NULL cosine exactly like the per-pair form. Codebooks are
    trained on the clean corpus: the stride sample of the nulled frame is
    all-NULL, which the trainer rejects in BOTH forms (out of scope)."""
    cb = SIM.pq_codebooks(embs, m=8, nbits=4, dim=64)
    vec_type = embs.schema["embedding"].dataType
    nulled = embs.where(F.col("vec_id") < 120).withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 7 == 0, F.lit(None).cast(vec_type)
        ).otherwise(F.col("embedding")),
    )
    kw = dict(k=3, query_stride=10, nprobe=2, rerank=8, codebooks=cb)
    got = _topk_rows(SIM.ivf_pq_topk(nulled, blocked=True, **kw))
    want = _topk_rows(SIM.ivf_pq_topk(nulled, blocked=False, **kw))
    assert got == want
    assert any(c is None for (_q, _r, _n, c) in got)


def test_lsh_near_dup_scored_blocked_row_identical(spark, embs):
    def rows(df):
        return sorted((r["id_a"], r["id_b"], r["cosine"]) for r in df.collect())

    got = SIM.lsh_near_dup_scored(embs, threshold=0.05, blocked=True)
    want = SIM.lsh_near_dup_scored(embs, threshold=0.05, blocked=False)
    assert rows(got) == rows(want) and len(rows(want)) > 0
    # centered projections (the hashed-text-features configuration)
    got_c = SIM.lsh_near_dup_scored(embs, threshold=0.05, center=True, blocked=True)
    want_c = SIM.lsh_near_dup_scored(embs, threshold=0.05, center=True, blocked=False)
    assert rows(got_c) == rows(want_c)


def _sd_rows(df):
    return sorted(
        (r["vec_id"], r["cluster_id"], r["kept"]) for r in df.collect()
    )


def test_semantic_dedup_blocked_row_identical(spark, embs):
    got = SIM.semantic_dedup(embs, threshold=0.45, blocked=True)
    want = SIM.semantic_dedup(embs, threshold=0.45, blocked=False)
    assert _sd_rows(got) == _sd_rows(want)
    # cap path: overflow members check against the lowest-id prefix only
    got_c = SIM.semantic_dedup(embs, threshold=0.3, max_cluster_width=4, blocked=True)
    want_c = SIM.semantic_dedup(embs, threshold=0.3, max_cluster_width=4, blocked=False)
    assert _sd_rows(got_c) == _sd_rows(want_c)


def test_semantic_dedup_blocked_null_and_zero_norm(spark, embs):
    """NULL vectors never flag (NULL cosine); zero-norm vectors score NaN,
    which Spark compares GREATER than any threshold — the blocked form must
    reproduce both, and the clone pair must still dedup."""
    vec_type = embs.schema["embedding"].dataType
    zero = F.array(*[F.lit(0.0) for _ in range(64)]).cast(vec_type)
    tweaked = embs.where(F.col("vec_id") < 200).withColumn(
        "embedding",
        F.when(F.col("vec_id") % 11 == 0, F.lit(None).cast(vec_type))
        .when(F.col("vec_id") % 13 == 1, zero)
        .otherwise(F.col("embedding")),
    )
    got = SIM.semantic_dedup(tweaked, threshold=0.45, blocked=True)
    want = SIM.semantic_dedup(tweaked, threshold=0.45, blocked=False)
    assert _sd_rows(got) == _sd_rows(want)


def test_minhash_long_min_equals_string_min(spark, docs):
    """min over conv(hex, 16, 10) longs re-hexed must equal min over the
    hex strings: fixed-width lowercase hex sorts identically either way."""
    sig = D.minhash_signature(docs)
    ex = docs.select(
        "doc_id",
        F.explode(F.array_distinct(D.shingles("text", 3))).alias("s"),
    ).select("doc_id", F.sha2("s", 256).alias("h"))
    ref = ex.groupBy("doc_id").agg(
        *[
            F.min(F.substring("h", 8 * i + 1, 8)).alias(f"r{i}")
            for i in range(8)
        ]
    )
    j = sig.join(ref, "doc_id")
    assert j.count() == docs.count()
    cond = " OR ".join(f"h{i} != r{i}" for i in range(8))
    assert j.where(cond).count() == 0


def test_banded_incremental_stale_duplicate_ids_excluded(spark):
    """A frontier doc id that ALSO exists in the stored band index (re-ingest
    with changed content) must not contribute edges from its stale band
    rows: the banded path equals the signature path, which subtracts the
    frontier by doc id."""
    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    text_b = "completely different replacement words arrive here now yes"
    prior = spark.createDataFrame(
        [(1, text_a), (3, text_a)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, text_b), (2, text_a)], "doc_id long, text string"
    )
    prior_sigs = D.minhash_signature(prior)
    new_sigs = D.minhash_signature(new)
    prior_bands_full = D.band_explode(prior_sigs)  # includes stale id 1
    prior_excl = prior_sigs.where(~F.col("doc_id").isin([1, 2]))
    want = {
        (r["doc_a"], r["doc_b"])
        for r in D.incremental_lsh_candidates(prior_excl, new_sigs).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in D.banded_incremental_candidates(
            prior_bands_full, new_sigs
        ).collect()
    }
    # the surviving prior doc (3, text_a) still pairs with the new clone
    # (2, text_a); the stale (1, text_a) bands contribute nothing even
    # though new id 2 collides with them
    assert (2, 3) in want
    assert got == want
    assert not any(1 in p for p in got)


def test_hash_distinct_auto_picks_by_input_size(spark, docs, monkeypatch):
    """The vocab-hash knobs (minhash / simhash / hashed features) default
    to size-adaptive: a tiny corpus resolves to the per-occurrence plan, a
    floor of 0 forces the vocab plan — and the rows are identical either
    way (the declared queries' results cannot depend on the pick)."""
    est = plan_size_bytes(docs)
    assert est is not None and 0 < est < D.HASH_DISTINCT_FLOOR

    def rows(df):
        return sorted(map(tuple, df.collect()))

    auto = (
        rows(D.minhash_signature(docs)),
        rows(D.simhash(docs)),
        rows(SIM.hashed_feature_entries(docs)),
    )
    for floor in (
        "HASH_DISTINCT_FLOOR", "SIMHASH_DISTINCT_FLOOR", "MINHASH_DISTINCT_FLOOR"
    ):
        monkeypatch.setattr(D, floor, 0)
    forced_vocab = (
        rows(D.minhash_signature(docs)),
        rows(D.simhash(docs)),
        rows(SIM.hashed_feature_entries(docs)),
    )
    explicit_off = (
        rows(D.minhash_signature(docs, hash_distinct=False)),
        rows(D.simhash(docs, hash_distinct=False)),
        rows(SIM.hashed_feature_entries(docs, hash_distinct=False)),
    )
    assert auto == forced_vocab == explicit_off


def test_hashed_features_vocab_bit_identical(spark, docs):
    """hash_distinct=True (sha256 over the distinct vocabulary, (bucket,
    sign) joined back to the occurrence stream) must produce the identical
    integer (doc, bucket, weight) entries — the weight is the same sum of
    per-occurrence signs either way — for unigrams and shingles."""
    for ngram in (1, 2):
        direct = SIM.hashed_feature_entries(docs, ngram=ngram, hash_distinct=False)
        vocab = SIM.hashed_feature_entries(
            docs, ngram=ngram, hash_distinct=True
        ).withColumnRenamed("weight", "weight_v")
        j = direct.join(vocab, ["doc_id", "bucket"], "full_outer")
        assert j.where(
            "weight IS NULL OR weight_v IS NULL OR weight != weight_v"
        ).count() == 0
