"""Tests for dedup / similarity / text / multimodal operators over the
driver's synthetic tables (sf0.001 for speed)."""

import pytest
from pyspark.sql import functions as F

from datalakefoundation_spark.ext import dedup as D
from datalakefoundation_spark.ext import multimodal as MM
from datalakefoundation_spark.ext import similarity as SIM
from datalakefoundation_spark.ext import text as TX

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_with_planted_dupes(spark, docs):
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    with_dupes = docs.unionByName(dup)
    groups = D.exact_dedup_groups(with_dupes)
    assert groups.where(F.col("n_copies") > 1).count() == 5
    survivors = D.exact_dedup(with_dupes)
    assert survivors.count() == docs.count()
    # survivor is always the min id (the original)
    assert survivors.where(F.col("doc_id") >= 100000).count() == 0


def test_minhash_finds_planted_near_dupes(spark, docs):
    # plant near-dupes: copy 3 docs with one word changed
    base = docs.limit(3).withColumn(
        "text", F.concat(F.col("text"), F.lit(" tailword"))
    ).withColumn("doc_id", F.col("doc_id") + 100000)
    with_dupes = docs.unionByName(base)
    pairs = D.minhash_dedup_candidates(with_dupes).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    for i in range(3):
        assert (i, i + 100000) in found


def test_simhash_near_identical_docs(spark, docs):
    near = docs.limit(2).withColumn(
        "text", F.concat(F.col("text"), F.lit(" x"))
    ).withColumn("doc_id", F.col("doc_id") + 100000)
    sh = D.simhash(docs.unionByName(near))
    rows = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    for i in range(2):
        a, b = rows[i], rows[i + 100000]
        hamming = sum(1 for x, y in zip(a, b) if x != y)
        assert hamming <= 8  # near-identical content -> close fingerprints
        assert len(a) == 64 and set(a) <= {"0", "1"}


def test_simhash_vocab_hashing_bit_identical(spark, docs):
    """hash_distinct=True (sha256 over the distinct vocabulary, joined back)
    must produce byte-identical fingerprints to direct per-occurrence
    hashing — the per-doc lane sums add the same packed value per
    occurrence either way. This pins the Zipf-scale path to the
    oracle-verified direct path."""
    direct = D.simhash(docs, hash_distinct=False)
    vocab = D.simhash(docs, hash_distinct=True).withColumnRenamed(
        "simhash", "simhash_v"
    )
    joined = direct.join(vocab, "doc_id")
    assert joined.count() == docs.count()
    assert joined.where("simhash != simhash_v").count() == 0


def test_shingles_regex_matches_hof_on_edge_cases(spark):
    """The codegen'd regex shingle path must reproduce the higher-order
    slice/concat formulation EXACTLY — including the awkward split(' ')
    semantics: consecutive spaces yield empty tokens that participate in
    windows, tabs/newlines are token characters (not separators), and
    short docs collapse to one whole-text shingle."""
    import random

    from pyspark.sql import functions as F
    from datalakefoundation_spark.ext.text import tokens

    def hof_shingles(n):
        w = tokens("text")
        upper = F.greatest(F.size(w) - (n - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), upper),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        )

    rng = random.Random(4)
    alphabet = ["a", "bb", "ccc", "", "x\ty", "z\nw"]
    cases = ["", " ", "  ", "a", "a b", "a  b", " a b ", "a b c d e",
             "a\tb c d", "one two three four", "a  b  c", "trail space "]
    cases += [
        " ".join(rng.choice(alphabet) for _ in range(rng.randint(0, 9)))
        for _ in range(150)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)]
        + [(len(cases), None)],  # NULL text must shingle like "" ([""])
        "doc_id long, text string",
    )
    for n in (1, 2, 3, 5):
        got = df.select(
            "doc_id",
            D.shingles("text", n).alias("fast"),
            hof_shingles(n).alias("ref"),
        )
        bad = got.where("fast != ref").collect()
        assert not bad, f"n={n}: {bad[:3]}"


def test_stopword_ratio_regex_matches_filter_lambda(spark):
    """The codegen'd regex stopword counter must equal the array-filter
    lambda on adversarial inputs: prefix-overlapping stopwords ('a' vs
    'and'-like tokens), stopwords at string edges, consecutive spaces
    (empty tokens), and repeated stopwords."""
    import random

    from pyspark.sql import functions as F
    from datalakefoundation_spark.ext.text import EN_STOPWORDS, tokens

    def ref_ratio(col):
        toks = tokens(col)
        sw = F.array(*[F.lit(s) for s in EN_STOPWORDS])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        return hits / F.size(toks)

    rng = random.Random(11)
    words = list(EN_STOPWORDS) + ["an", "and", "thee", "x", "", "ax", "ofa"]
    cases = ["a", "the", "an", "a the", " a", "the ", "a  the", "the the the",
             "", " ", "ofa of a",
             # trailing line terminators: Java's $ matches before a final
             # \n, \z does not — these pin the \z lookahead choice
             "see the\n", "the\n", "a\r\n", "of the", "the\nthe"]
    cases += [
        " ".join(rng.choice(words) for _ in range(rng.randint(0, 12)))
        for _ in range(150)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id long, text string"
    )
    got = df.select(
        "doc_id",
        TX.stopword_ratio("text").alias("fast"),
        ref_ratio(F.col("text")).alias("ref"),
    )
    bad = got.where(
        "(fast IS NULL) != (ref IS NULL) OR abs(coalesce(fast,0) - coalesce(ref,0)) > 0"
    ).collect()
    assert not bad, bad[:5]


def test_minhash_vocab_hashing_bit_identical(spark, docs):
    """hash_distinct=True (sha256 over corpus-distinct shingles, joined
    back) must yield byte-identical signatures — per-band min is
    insensitive to digest multiplicity."""
    direct = D.minhash_signature(docs, hash_distinct=False)
    via_vocab = D.minhash_signature(docs, hash_distinct=True)
    renames = {f"h{i}": f"v{i}" for i in range(8)}
    vv = via_vocab.withColumnsRenamed(renames)
    joined = direct.join(vv, "doc_id")
    assert joined.count() == docs.count()
    cond = " OR ".join(f"h{i} != v{i}" for i in range(8))
    assert joined.where(cond).count() == 0


def test_simhash_vocab_hashing_random_corpus(spark):
    """Vocab-path equivalence over seeded-random corpora with heavy token
    repetition (the Zipf shape the knob exists for), across different
    physical partitionings — the per-(doc, token) multiplicities that the
    join re-expands are exactly what the direct path sums."""
    import random

    rng = random.Random(20260814)
    vocab = [f"tok{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60))))
        for i in range(80)
    ]
    for nparts in (1, 7):
        corpus = spark.createDataFrame(rows, "doc_id long, text string").repartition(
            nparts
        )
        direct = D.simhash(corpus, hash_distinct=False)
        via_vocab = D.simhash(corpus, hash_distinct=True).withColumnRenamed(
            "simhash", "simhash_v"
        )
        joined = direct.join(via_vocab, "doc_id")
        assert joined.count() == 80
        assert joined.where("simhash != simhash_v").count() == 0


def test_ngram_jaccard_bounds(spark, docs):
    cand = spark.createDataFrame([(0, 1), (1, 2)], "doc_a long, doc_b long")
    out = D.ngram_jaccard_pairs(docs, cand).collect()
    assert len(out) == 2
    for r in out:
        assert 0.0 <= r["jaccard"] <= 1.0
    # identical docs -> jaccard 1.0
    self_pair = spark.createDataFrame([(0, 0)], "doc_a long, doc_b long")
    assert D.ngram_jaccard_pairs(docs, self_pair).head()["jaccard"] == 1.0


def test_embedding_near_dup_planted(spark, embs):
    clone = embs.limit(2).withColumn("vec_id", F.col("vec_id") + 100000)
    pairs = D.embedding_near_dup_pairs(embs.unionByName(clone), threshold=0.999)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 100000) in found and (1, 100001) in found


def test_brute_force_topk_self_excluded(spark, embs):
    q = embs.where(F.col("vec_id") < 3)
    out = SIM.brute_force_topk(q, embs, k=4)
    rows = out.collect()
    assert len(rows) == 12
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        assert 1 <= r["rank"] <= 4
    # clone of vec 0 must be its rank-1 neighbor
    clone = embs.where(F.col("vec_id") == 0).withColumn("vec_id", F.lit(999999))
    out2 = SIM.brute_force_topk(
        embs.where(F.col("vec_id") == 0), embs.unionByName(clone), k=1
    ).head()
    assert out2["neighbor_id"] == 999999
    assert out2["cosine"] == pytest.approx(1.0)


def test_lsh_topk_recall(spark, embs):
    """Banded ANN finds the planted exact clone (same vector -> same band keys)."""
    clone = embs.limit(3).withColumn("vec_id", F.col("vec_id") + 100000)
    out = SIM.lsh_topk(embs.unionByName(clone), k=3)
    top1 = {r["query_id"]: r["neighbor_id"] for r in out.where(F.col("rank") == 1).collect()}
    for i in range(3):
        assert top1.get(i) == i + 100000


def test_lsh_band_keyspace(spark, embs):
    """The banded keyspace is far larger than the old single 8-bit bucket:
    distinct (band, key) values observed must exceed 256, and each vector
    carries one key per band."""
    keyed = SIM.lsh_band_keys(embs, bands=4, planes_per_band=8)
    first = keyed.head()
    assert len(first["bks"]) == 4
    assert {k.split("|")[0] for k in first["bks"]} == {"0", "1", "2", "3"}
    n_distinct = keyed.select(F.explode("bks").alias("bk")).distinct().count()
    assert n_distinct > 256


def test_kmeans_centroids_improve_ivf_recall(spark, embs):
    """The trained (deterministic k-means) centroid index must beat the
    stride-subset index on recall@k against brute-force ground truth —
    the production upgrade the IVF docstring names. Same k and cluster-id
    space (k-means starts FROM the stride subset), same nprobe."""
    K = 3
    queries = embs.where(F.col("vec_id") % 50 == 0)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in SIM.brute_force_topk(queries, embs, k=K).collect()
    }

    def recall(res):
        got = {(r["query_id"], r["neighbor_id"]) for r in res.collect()}
        return len(got & truth) / len(truth)

    r_stride = recall(SIM.ivf_topk(embs, k=K))
    cents = SIM.kmeans_centroids(embs, iterations=2)
    r_kmeans = recall(SIM.ivf_topk(embs, k=K, centroids=cents))
    assert r_kmeans > r_stride, (r_kmeans, r_stride)
    # same centroid-id space: k-means only refines positions
    n_cents = cents.count()
    assert n_cents == embs.where(F.col("vec_id") % 37 == 0).count()
    # every centroid has the vector dimensionality
    assert cents.where(F.size("cv") != 64).count() == 0


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """A centroid that attracts no members must survive the update
    unchanged instead of disappearing (cluster-id space is stable)."""
    rows = [(i, [float(i % 7)] * 4) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # stride 29 -> centroids at ids 0 and 29; all vectors are near one of
    # 7 directions, some centroid may end up empty across iterations
    cents = SIM.kmeans_centroids(df, centroid_stride=29, iterations=3)
    assert cents.count() == 2
    assert cents.where(F.col("cv").isNull()).count() == 0


def test_ivf_topk_finds_clone(spark, embs):
    """A cloned vector lands in the same IVF cell and ranks first for its
    original (query ids are multiples of 50, so clone base ids must be too)."""
    clone = (
        embs.where(F.col("vec_id").isin(0, 50, 100))
        .withColumn("vec_id", F.col("vec_id") * 100000 + 7)  # non-query, non-centroid ids
    )
    out = SIM.ivf_topk(embs.unionByName(clone), k=3)
    top1 = {r["query_id"]: r["neighbor_id"] for r in out.where(F.col("rank") == 1).collect()}
    for i in (0, 50, 100):
        assert top1.get(i) == i * 100000 + 7
    # every reported neighbor has cosine <= 1 and ranks are dense from 1
    assert out.where((F.col("cosine") > 1.000001) | (F.col("rank") < 1)).count() == 0


def test_bpe_token_count(spark):
    df = spark.createDataFrame(
        [(1, "hello world42, it's x-y!"), (2, "abc")], ["doc_id", "text"]
    )
    out = df.select(
        "doc_id",
        TX.token_count("text").alias("ws"),
        TX.bpe_token_count("text").alias("bpe"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # hello|world|42|,|it|'|s|x|-|y|! = 11
    assert by_id[1]["ws"] == 4 and by_id[1]["bpe"] == 11
    assert by_id[2]["ws"] == 1 and by_id[2]["bpe"] == 1


def test_text_quality_and_langid(spark, docs):
    stats = TX.quality_stats(docs)
    r = stats.head()
    assert r["n_tokens"] > 0 and 0 < r["distinct_ratio"] <= 1.0
    lang = TX.lang_id(docs)
    assert lang.where(F.col("predicted_lang") == "en").count() > 0


def test_multimodal_plumbing(spark, docs):
    media = MM.from_text_fixture(docs)
    feats = MM.extract_features(media)
    rows = feats.collect()
    assert len(rows) == docs.count()
    r0 = rows[0]
    assert len(r0["features"]) == MM.FEATURE_DIM
    assert r0["n_bytes"] > 0 and len(r0["content_sha"]) == 64
    # deterministic: same payload -> same features
    feats2 = {r["media_id"]: r["features"] for r in MM.extract_features(media).collect()}
    assert feats2[r0["media_id"]] == r0["features"]


def test_multimodal_strict_raises(spark, docs):
    media = MM.from_text_fixture(docs.limit(1))
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        MM.extract_features(media, strict=True).collect()


def test_resize_images(spark, docs):
    media = MM.from_text_fixture(docs)
    out = MM.resize_images(media, 224, 224)
    rows = out.limit(5).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["meta"]["width"] == 224 and r["meta"]["height"] == 224
        assert r["content"] is not None  # payload passes through the stub


def test_frame_sample(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"xx"), "video", (0, 0, 3500, "h264"))],
        MM.MEDIA_SCHEMA,
    )
    out = MM.frame_sample(media, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in out] == [0, 1000, 2000, 3000]


def test_salted_agg_matches_plain(spark):
    from datalakefoundation_spark.ext.skew import salted_agg

    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    salted = salted_agg(
        df, ["l_returnflag"],
        {"n": ("count", "l_returnflag"), "s": ("sum", "l_quantity"),
         "mn": ("min", "l_orderkey"), "mx": ("max", "l_orderkey")},
        salt_buckets=8,
    )
    plain = df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s"),
        F.min("l_orderkey").alias("mn"), F.max("l_orderkey").alias("mx"),
    )
    a = {tuple(r) for r in salted.collect()}
    b = {tuple(r) for r in plain.collect()}
    assert a == b and len(a) > 0


def test_salted_agg_adversarial_skew_no_straggler(spark):
    """Adversarial 90%-single-key distribution, worst case included: the
    hot key's rows are bit-IDENTICAL duplicates (value-hash salting would
    send them all to one reducer). Asserts (a) exact result parity with
    the plain groupBy, (b) the stage-1 partial groups spread the hot key
    near-uniformly over the salt space — the largest partial is a small
    multiple of hot_rows/salt_buckets, so no reducer processes the hot
    key alone — and (c) the physical plan shows the two-stage shape:
    a salted exchange then a key-only exchange."""
    import random

    from datalakefoundation_spark.ext.skew import salt_expr, salted_agg

    rng = random.Random(41)
    n, buckets = 20_000, 16
    rows = []
    for i in range(n):
        if i < int(n * 0.9):
            rows.append(("hot", 7, 1.0))  # identical payload too
        else:
            rows.append((f"k{rng.randint(0, 50)}", rng.randint(0, 9), rng.random()))
    df = spark.createDataFrame(rows, "key string, a int, x double")

    salted = salted_agg(
        df, ["key"],
        {"n": ("count", "key"), "mx": ("max", "a"), "mn": ("min", "x")},
        salt_buckets=buckets,
    )
    plain = df.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"), F.max("a").alias("mx"), F.min("x").alias("mn")
    )
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in plain.collect()}

    # (b) stage-1 spread: same salt expression the operator uses
    partials = (
        df.withColumn("__salt", salt_expr(df, buckets))
        .groupBy("key", "__salt")
        .count()
        .where(F.col("key") == "hot")
        .collect()
    )
    hot_rows = int(n * 0.9)
    assert len(partials) == buckets  # every salt bucket got a share
    assert max(r["count"] for r in partials) <= 3 * hot_rows / buckets, (
        "hot key straggles on one stage-1 reducer"
    )

    # (c) plan shape: salted exchange before the key-only exchange
    plan = salted._jdf.queryExecution().toString()
    assert "__salt" in plan
    import re
    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any("__salt" in e for e in exchanges), exchanges
    assert any("key" in e and "__salt" not in e for e in exchanges), exchanges


def test_bucketed_join_has_no_shuffle(spark):
    from datalakefoundation_spark.ext.skew import write_bucketed

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    od = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "bkt_lineitem", ["l_orderkey"], num_buckets=8)
    write_bucketed(od.withColumnRenamed("o_orderkey", "l_orderkey"), "bkt_orders",
                   ["l_orderkey"], num_buckets=8)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # at test scale the planner would broadcast instead (also shuffle-free,
    # but it bypasses the bucketing path under test) — force the merge join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bkt_lineitem").join(spark.table("bkt_orders"), "l_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        # co-located bucketed join: merge join with no shuffle on either side
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_deterministic_sample_invariant_under_partitioning(spark, docs):
    from datalakefoundation_spark.ext import sampling as SA

    a = sorted(r.doc_id for r in SA.deterministic_sample(docs, "doc_id", 0.3).collect())
    b = sorted(
        r.doc_id
        for r in SA.deterministic_sample(docs.repartition(13), "doc_id", 0.3).collect()
    )
    assert a == b and 0 < len(a) < docs.count()
    # monotone: a smaller fraction's sample is a subset of a larger one's
    c = set(r.doc_id for r in SA.deterministic_sample(docs, "doc_id", 0.1).collect())
    assert c <= set(a)


def test_stratified_sample_rates(spark, docs):
    from datalakefoundation_spark.ext import sampling as SA

    out = SA.stratified_sample(
        docs, "doc_id", "source", rates={"src0": 1.0}, default_rate=0.0
    )
    got = out.groupBy("source").count().collect()
    # rate 1.0 keeps every src0 row, default 0.0 drops every other stratum
    assert {r.source for r in got} == {"src0"}
    assert got[0]["count"] == docs.where(F.col("source") == "src0").count()


def test_quality_filter_reasons(spark):
    rows = [
        (1, "short text"),                      # < 20 tokens -> too_short
        (2, " ".join(["word"] * 50)),           # 1/50 distinct -> repetitive
        (3, " ".join(["the"] * 10 + ["a"] * 15)),  # all stopwords -> repetitive first
        (4, " ".join(f"w{i}" for i in range(30))),  # clean -> keep
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: (r.keep, r.reject_reason) for r in TX.quality_filter(df).collect()}
    assert out[1] == (False, "too_short")
    assert out[2] == (False, "repetitive")
    assert out[3] == (False, "repetitive")  # rule order is fixed
    assert out[4] == (True, None)


def test_vocab_topk_total_order(spark, docs):
    top = TX.vocab_topk(docs, k=10).collect()
    assert len(top) == 10
    counts = [r.n for r in top]
    assert counts == sorted(counts, reverse=True)
    # ties broken by token ascending
    for x, y in zip(top, top[1:]):
        if x.n == y.n:
            assert x.token < y.token


def test_connected_components_chain_and_triangle(spark):
    from datalakefoundation_spark.ext.cluster import connected_components

    # chain 1-2-3-4 (diameter 3, needs >1 propagation round) + triangle 10-11-12
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "doc_a long, doc_b long",
    )
    out = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


@pytest.fixture
def cc_at_bound(monkeypatch):
    """Runs ``connected_components`` with ``_DRIVER_MAX_EDGES`` patched to
    ``bound``; returns (row set, schema, paths taken), where a path is
    "union_find" or "star"."""
    from datalakefoundation_spark.ext import cluster

    ran = []
    union_find, large_star = cluster._union_find, cluster._large_star
    monkeypatch.setattr(
        cluster, "_union_find", lambda *a: ran.append("union_find") or union_find(*a)
    )
    monkeypatch.setattr(
        cluster, "_large_star", lambda e: ran.append("star") or large_star(e)
    )

    def run(pairs, bound, **kwargs):
        monkeypatch.setattr(cluster, "_DRIVER_MAX_EDGES", bound)
        ran.clear()
        out = cluster.connected_components(pairs, **kwargs)
        rows = {(r["node"], r["cluster_id"]) for r in out.collect()}
        return rows, out.schema, set(ran)

    return run


def test_connected_components_long_path_converges(spark, cc_at_bound):
    """Adversarial long-chain graph: a 10k-node path has diameter 10k, so
    label propagation would need 10k rounds — large-star/small-star must
    collapse it to one component within its O(log d) budget (~14 rounds).
    The driver bound is 0 so the star path runs."""
    n = 10_000
    pairs = spark.range(n - 1).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    rows, _, paths = cc_at_bound(pairs, 0, max_iter=30)
    assert paths == {"star"}
    assert rows == {(i, 0) for i in range(n)}


def _random_graph():
    """40 seeded components over 400 node ids, mixing chains and stars."""
    import random

    rng = random.Random(7)
    edges = set()
    for comp in range(40):
        base = comp * 10
        nodes = [base + i for i in range(rng.randint(2, 10))]
        for x in nodes[1:]:
            edges.add((rng.choice(nodes), x) if rng.random() < 0.5 else (x, nodes[0]))
    return sorted(edges)


def _components(edges):
    """Reference labelling: (node, component minimum) by graph search."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {}
    for start in adj:
        if start in label:
            continue
        comp, todo = {start}, [start]
        while todo:
            for y in adj[todo.pop()] - comp:
                comp.add(y)
                todo.append(y)
        label.update((x, min(comp)) for x in comp)
    return set(label.items())


@pytest.mark.parametrize(
    "edges, ddl",
    [
        (_random_graph(), "doc_a long, doc_b long"),
        # 3 and 5 appear only in self-pairs; (8, 7) duplicates (7, 8)
        ([(1, 2), (2, 2), (3, 3), (5, 5), (7, 8), (8, 7)], "doc_a long, doc_b long"),
        ([(4, 4), (9, 9), (4, 4)], "doc_a long, doc_b long"),
        ([], "doc_a long, doc_b long"),
        ([(1, 2), (3, 2), (10, 11)], "doc_a int, doc_b long"),
    ],
    ids=["random", "self_pairs_mixed", "only_self_pairs", "empty", "int_long"],
)
def test_connected_components_star_matches_driver_union_find(
    spark, cc_at_bound, edges, ddl
):
    """At the driver bound the graph is labelled by union-find, one edge
    below it by large-star/small-star; both give the reference labels and
    the same schema. The bound counts edge rows as given, repeats and
    both orientations of an edge included."""
    pairs = spark.createDataFrame(edges, ddl)
    n_edges = len(edges)
    uf_rows, uf_schema, uf_paths = cc_at_bound(pairs, n_edges)
    star_rows, star_schema, star_paths = cc_at_bound(pairs, n_edges - 1)
    assert uf_paths == {"union_find"}
    assert star_paths == {"star"}
    assert uf_rows == star_rows == _components(edges)
    assert uf_schema == star_schema
    assert [f.dataType.simpleString() for f in star_schema] == ["bigint", "bigint"]


def _spark_work(spark, fn):
    """(fn(), Spark jobs it ran, input records its stages read), counted
    through a job group once the listener bus has caught up."""
    import uuid

    sc = spark.sparkContext
    group = f"test-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    records = sum(
        store.lastStageAttempt(s).inputRecords()
        for j in jobs
        for s in sc.statusTracker().getJobInfo(j).stageIds
    )
    return out, len(jobs), records


@pytest.mark.parametrize(
    "ddl, edges",
    [
        ("doc_a long, doc_b long", [(1, 2), (2, 3), (10, 11), (7, 7), (3, 1)]),
        ("doc_a int, doc_b int", [(1, 2), (3, 2), (10, 11)]),
        ("doc_a string, doc_b string", [("a", "b"), ("c", "b"), ("x", "y")]),
    ],
    ids=["long", "int", "string"],
)
def test_connected_components_union_find_is_one_job(spark, tmp_path, ddl, edges):
    """The driver path is the take of the edge rows and nothing else: one
    Spark job over a one-file edge list. Its labels are an Arrow-built
    local relation (no Python RDD scan) typed like the input ids."""
    from datalakefoundation_spark.ext.cluster import connected_components

    path = str(tmp_path / "edges")
    spark.createDataFrame(edges, ddl).coalesce(1).write.parquet(path)
    pairs = spark.read.parquet(path)
    out, jobs, _ = _spark_work(spark, lambda: connected_components(pairs))
    assert jobs == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    id_type = pairs.schema["doc_a"].dataType
    assert [f.dataType for f in out.schema] == [id_type, id_type]
    assert {(r["node"], r["cluster_id"]) for r in out.collect()} == _components(edges)


def _near_dup_corpus(spark, id_type):
    """120 documents plus a hot bucket (60 verbatim copies of one
    document), one-word-tail copies of 20 documents and 60%-prefix copies
    of 40 more, ids cast to ``id_type``."""
    base = spark.read.parquet(f"{SF}/documents.parquet").where(
        F.col("doc_id") < 120
    ).select("doc_id", "text")
    hot = (
        base.where(F.col("doc_id") == 5)
        .crossJoin(spark.range(60))
        .select((F.col("id") + 1000).alias("doc_id"), "text")
    )
    tail = base.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
    )
    prefix = base.where(F.col("doc_id").between(20, 59)).select(
        (F.col("doc_id") + 3000).alias("doc_id"),
        F.expr(
            "concat_ws(' ', slice(split(text, ' '), 1, "
            "int(size(split(text, ' ')) * 0.6)))"
        ).alias("text"),
    )
    corpus = base.unionByName(hot).unionByName(tail).unionByName(prefix)
    return corpus.withColumn("doc_id", F.col("doc_id").cast(id_type))


def _pair_components(pairs):
    return _components([(r["doc_a"], r["doc_b"]) for r in pairs.collect()])


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_lsh_star_edges_give_the_candidate_pair_components(spark, id_type):
    """One star per LSH bucket connects exactly what the bucket's pairs
    connect: the same nodes and components as lsh_candidate_pairs, with a
    hot bucket of 61 identical documents sending 60 edges per band
    instead of 1830 pairs."""
    from datalakefoundation_spark.ext.cluster import connected_components

    sig = D.minhash_signature(_near_dup_corpus(spark, id_type)).persist()
    try:
        pairs = D.lsh_candidate_pairs(sig)
        stars = D.lsh_star_edges(sig)
        want = _pair_components(pairs)
        got = {(r["node"], r["cluster_id"]) for r in connected_components(stars).collect()}
        assert got == want
        assert all(a < b for a, b in stars.collect())
        # the 61 identical documents share one bucket per band: 60 edges
        # among them per band
        hot_ids = [5, *range(1000, 1060)]
        hot = F.col("doc_a").cast("long").isin(hot_ids) & F.col("doc_b").cast(
            "long"
        ).isin(hot_ids)
        assert stars.where(hot).count() == 4 * 60
        assert pairs.count() > 1830
    finally:
        sig.unpersist()


def test_dedup_clusters_forwards_banding_to_the_star_edges(spark):
    """``dedup_clusters(**minhash_kwargs)`` bands the star edges with the
    caller's num_hashes/band_size: its clusters equal the components of
    minhash_dedup_candidates with the same arguments, which differ from
    the default banding on this corpus."""
    from datalakefoundation_spark.ext.cluster import dedup_clusters

    corpus = _near_dup_corpus(spark, "bigint")

    def clusters(**kw):
        return {
            (r["doc_id"], r["cluster_id"])
            for r in dedup_clusters(corpus, **kw).collect()
        }

    kw = {"num_hashes": 12, "band_size": 3}
    got = clusters(**kw)
    assert got == _pair_components(D.minhash_dedup_candidates(corpus, **kw))
    assert got != clusters()


def test_star_edges_on_an_empty_graph(spark):
    """No document shares a bucket: no edges, no cluster rows, and the
    cluster frame keeps the id type."""
    from datalakefoundation_spark.ext.cluster import dedup_clusters

    empty = spark.createDataFrame([], "doc_id int, text string")
    assert D.lsh_star_edges(D.minhash_signature(empty)).count() == 0
    out = dedup_clusters(empty)
    assert out.count() == 0
    assert out.schema["doc_id"].dataType.simpleString() == "int"
    singles = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four five")],
        "doc_id long, text string",
    )
    assert D.lsh_star_edges(D.minhash_signature(singles)).count() == 0


def _one_file_corpus(spark, tmp_path):
    """A fixed one-file corpus of 540 rows: 500 documents, 20 exact and 20
    near copies."""
    path = str(tmp_path / "corpus")
    base = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    exact = base.where("doc_id < 20").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = base.where("doc_id < 20").select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
    )
    base.unionByName(exact).unionByName(near).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_clean_corpus_jobs_and_single_prefix_scan(spark, tmp_path):
    """Pins the Spark work of ``clean_corpus(...).df.count()`` on a fixed
    one-file corpus (540 rows: 500 documents, 20 exact and 20 near
    copies): 12 jobs, and the raw corpus is scanned once, its
    quality/PII prefix cached for the call (before: 15 jobs and 1202
    input records, the prefix computed on both sides of exact dedup)."""
    from datalakefoundation_spark.ext.recipes import clean_corpus

    corpus = _one_file_corpus(spark, tmp_path)
    held = []

    def run():
        held.append(clean_corpus(corpus))
        return held[0].df.count()

    n, jobs, records = _spark_work(spark, run)
    try:
        assert n == 475
        assert jobs == 12
        assert 540 <= records < 2 * 540
        assert len(held[0].persisted) == 1
    finally:
        held[0].unpersist()


def test_clean_corpus_without_near_dedup_scans_the_corpus_once(spark, tmp_path):
    """With ``near_dedup=False`` exact dedup reads the cached quality/PII
    prefix too, so the raw corpus is scanned once (before: 1080 input
    records for the 540-row corpus, the prefix computed on both sides of
    exact dedup); the prefix is the frame left on CleanResult.persisted."""
    from datalakefoundation_spark.ext.recipes import clean_corpus

    corpus = _one_file_corpus(spark, tmp_path)
    held = []

    def run():
        held.append(clean_corpus(corpus, near_dedup=False))
        return held[0].df.count()

    n, _jobs, records = _spark_work(spark, run)
    try:
        assert n == 520  # the 20 exact copies go, the near copies stay
        assert 540 <= records < 2 * 540
        (prefix,) = held[0].persisted
        assert prefix.storageLevel.useMemory
    finally:
        held[0].unpersist()


def test_ensure_compute_parallelism_fans_out_a_cached_one_file_frame(spark, tmp_path):
    """A cached frame lists no input files; from one file it has one
    partition and gets the fan-out. Frames that show enough partitions,
    by files or by their plan, come back unchanged."""
    from datalakefoundation_spark.ext.util import ensure_compute_parallelism

    target = spark.sparkContext.defaultParallelism
    one, many = str(tmp_path / "one"), str(tmp_path / "many")
    rows = spark.range(200).selectExpr("id AS doc_id", "cast(id AS string) AS text")
    rows.coalesce(1).write.parquet(one)
    rows.repartition(target).write.parquet(many)

    cached = spark.read.parquet(one).persist()
    try:
        assert cached.inputFiles() == []
        out = ensure_compute_parallelism(cached)
        assert out.rdd.getNumPartitions() == target
        assert out.count() == 200
        shuffled = cached.repartition(target)
        assert ensure_compute_parallelism(shuffled) is shuffled
    finally:
        cached.unpersist()
    files = spark.read.parquet(many)
    assert len(files.inputFiles()) == target
    assert ensure_compute_parallelism(files) is files


def test_dedup_clusters_planted(spark, docs):
    from datalakefoundation_spark.ext.cluster import dedup_clusters

    # two exact copies of doc 0 -> one cluster containing 0 and both copies,
    # with doc 0 the survivor
    clones = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 100000)
    clones2 = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 200000)
    out = dedup_clusters(docs.unionByName(clones).unionByName(clones2))
    rows = {r["doc_id"]: (r["cluster_id"], r["is_survivor"]) for r in out.collect()}
    assert rows[100000] == (0, False)
    assert rows[200000] == (0, False)
    assert rows[0] == (0, True)


def test_lsh_signature_bit_exact_vs_expression_fold(spark, embs):
    """The Arrow-vectorized signature must reproduce the interpreted
    sequential-fold expression bit for bit (same IEEE op order), else
    near-zero dots could flip signs between Spark and the DuckDB oracle."""
    from datalakefoundation_spark.ext.similarity import hyperplane_signs

    num_planes, dim = 32, 64
    dot_exprs = ["vec_id"]
    for p, row in enumerate(hyperplane_signs(num_planes, dim)):
        w = "array(" + ", ".join(f"{x:.1f}D" for x in row) + ")"
        dot_exprs.append(
            f"aggregate(zip_with(__v, {w}, (a, b) -> a * b), 0.0D, (acc, x) -> acc + x)"
            f" AS __p{p}"
        )
    step1 = embs.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS __v").selectExpr(
        *dot_exprs
    )
    chars = ", ".join(
        f"CASE WHEN __p{p} >= 0 THEN '1' ELSE '0' END" for p in range(num_planes)
    )
    expected = {
        r["vec_id"]: r["__sig"]
        for r in step1.selectExpr("vec_id", f"concat({chars}) AS __sig").collect()
    }
    got = {
        r["vec_id"]: r["__sig"]
        for r in SIM.lsh_signature(embs, num_planes=num_planes, dim=dim).collect()
    }
    assert got == expected


def test_cosine_and_signature_null_nan_semantics(spark):
    """NULL vectors: signature degrades to all-'0' (expression-form parity),
    cosine stays NULL. Zero-norm vectors: cosine is NaN, not NULL — Spark
    sorts NaN above every double, so NaN-vs-NULL changes thresholds and
    top-k order (Arrow squashes NaN to NULL; the wrapper restores it)."""
    import math

    from datalakefoundation_spark.ext.dedup import cosine_similarity
    from datalakefoundation_spark.ext.similarity import lsh_signature

    df = spark.createDataFrame(
        [
            (1, [1.0] * 8, [1.0] * 8),
            (2, None, [1.0] * 8),
            (3, [0.0] * 8, [1.0] * 8),  # zero norm -> 0/0 -> NaN
        ],
        "id long, a array<double>, b array<double>",
    )
    rows = {
        r["id"]: r["c"]
        for r in df.select("id", cosine_similarity(F.col("a"), F.col("b")).alias("c")).collect()
    }
    assert rows[1] == pytest.approx(1.0)
    assert rows[2] is None
    assert math.isnan(rows[3])

    sigs = {
        r["id"]: r["__sig"]
        for r in lsh_signature(
            df.select("id", F.col("a").alias("embedding")),
            id_col="id", num_planes=8, dim=8,
        ).collect()
    }
    assert sigs[2] == "0" * 8  # NULL vector -> all-zeros signature, no crash
    assert set(sigs[1]) <= {"0", "1"} and len(sigs[1]) == 8


def test_embedding_near_dup_scale_path(spark, embs):
    """X5's documented scale story, executable: LSH-bucket candidates feed
    embedding_near_dup_pairs(candidates=...), the plan stays free of
    cartesian products, and the result is a subset of the all-pairs form
    that still finds planted near-dups."""
    planted = (
        embs.limit(3)
        .withColumn("vec_id", F.col("vec_id") + 100000)
        .withColumn(
            "embedding",
            F.transform("embedding", lambda x: (x * 0.999).cast("float")),
        )
    )
    data = embs.unionByName(planted)
    cands = SIM.lsh_near_dup_candidates(data)
    out = D.embedding_near_dup_pairs(data, threshold=0.9, candidates=cands)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # every planted copy collides with its source in every band (sign
    # signatures are identical under a 0.999 scale) -> must be found
    for i, r in enumerate(embs.limit(3).collect()):
        assert (r["vec_id"], r["vec_id"] + 100000) in got
    # soundness: candidates only ever narrow the exact all-pairs result
    exact = {
        (r["id_a"], r["id_b"])
        for r in D.embedding_near_dup_pairs(data, threshold=0.9).collect()
    }
    assert got <= exact


def test_pack_sequences_offsets(spark):
    from datalakefoundation_spark.ext.packing import pack_sequences

    df = spark.createDataFrame(
        [(1, "s", "a b c"), (2, "s", "d e"), (3, "s", "f g h i"), (4, "t", "x y")],
        "doc_id long, source string, text string",
    )
    out = {r["doc_id"]: r for r in pack_sequences(df, ctx_len=4).collect()}
    assert (out[1]["start_offset"], out[1]["pack_id"], out[1]["packs_spanned"]) == (0, 0, 1)
    assert (out[2]["start_offset"], out[2]["pack_id"], out[2]["packs_spanned"]) == (3, 0, 2)
    assert (out[3]["start_offset"], out[3]["pack_id"], out[3]["packs_spanned"]) == (5, 1, 2)
    # shard t starts its own stream
    assert (out[4]["start_offset"], out[4]["pack_id"]) == (0, 0)


def test_repetition_stats_extremes(spark):
    from datalakefoundation_spark.ext.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "x x x x"), (2, "a b c d"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["dup_token_ratio"] == pytest.approx(0.75)
    assert out[1]["top_bigram_share"] == pytest.approx(1.0)  # 'x x' is every bigram
    assert out[2]["dup_token_ratio"] == pytest.approx(0.0)
    assert out[2]["top_bigram_share"] == pytest.approx(1 / 3)
    assert out[3]["n_bigrams"] == 0 and out[3]["top_bigram_share"] == 0.0


def test_decontamination_planted(spark, docs):
    from datalakefoundation_spark.ext.dedup import decontamination

    # benchmark = doc 0's text verbatim -> doc 0's clone in the corpus is
    # fully contaminated; an unrelated short doc is not
    bench = docs.limit(1).select("doc_id", "text")
    corpus = (
        docs.limit(1)
        .select(F.col("doc_id") + 500000, "text")
        .toDF("doc_id", "text")
        .unionByName(
            spark.createDataFrame([(999999, "zz yy xx ww vv uu")], "doc_id long, text string")
        )
    )
    out = {r["doc_id"]: r["n_shared"] for r in decontamination(corpus, bench).collect()}
    assert out.get(500000, 0) > 0
    assert 999999 not in out


def test_ivf_multiprobe_fanout(spark, embs):
    """Each probed vector gets exactly nprobe candidate cells, and its rank-1
    probe cell equals its storage cell from ivf_assign."""
    from pyspark.sql import functions as F

    probes = SIM.ivf_probes(embs, F.col("vec_id") % 50 == 0, nprobe=2)
    per_vec = probes.groupBy("vec_id").count().collect()
    assert per_vec and all(r["count"] == 2 for r in per_vec)
    assigned = SIM.ivf_assign(embs).where(F.col("vec_id") % 50 == 0)
    stored = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    # rank-1 probe (the first per vec_id by construction) must be the storage cell
    top1 = {
        r["vec_id"]: r["cluster_id"]
        for r in SIM.ivf_probes(embs, F.col("vec_id") % 50 == 0, nprobe=1).collect()
    }
    assert top1 == stored


def test_novelty_planted_copy(spark, docs):
    """A verbatim copy of doc 0 (higher id) has novelty 0; doc 0 keeps ~1."""
    from datalakefoundation_spark.ext.dedup import novelty_stats

    clone = docs.limit(1).select((F.col("doc_id") + 700000).alias("doc_id"), "text")
    out = novelty_stats(docs.select("doc_id", "text").unionByName(clone))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[700000]["novelty_ratio"] == pytest.approx(0.0)
    assert rows[700000]["n_seen_before"] == rows[700000]["n_shingles"]
    assert rows[0]["novelty_ratio"] > 0.0


# ---------------------------------------------------------------- grouped topk
def test_grouped_topk_matches_window_formulation(spark):
    """Equivalence with the idiomatic window top-k on seeded data with
    heavy ties (many rows share order values; id gives the total order)."""
    import random

    from datalakefoundation_spark.ext.topk import grouped_topk
    from pyspark.sql.window import Window

    rng = random.Random(7)
    rows = [(f"g{rng.randint(0, 5)}", rng.randint(0, 9), i, f"p{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, v int, id long, note string").repartition(16)

    got = grouped_topk(df, "g", "v", 4, tiebreak=["id"])
    w = Window.partitionBy("g").orderBy(F.desc("v"), F.desc("id"))
    ref = (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 4)
        .select("g", "v", "id", "note", "rank")
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in ref.collect()}

    # ascending mode
    got_asc = grouped_topk(df, "g", "v", 2, descending=False, tiebreak=["id"])
    w2 = Window.partitionBy("g").orderBy(F.asc("v"), F.asc("id"))
    ref_asc = (
        df.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= 2)
        .select("g", "v", "id", "note", "rank")
    )
    assert {tuple(r) for r in got_asc.collect()} == {tuple(r) for r in ref_asc.collect()}


def test_grouped_topk_plan_reduces_before_shuffle(spark):
    """Plan shape: the Arrow-batched local reduction runs BEFORE the single
    rank-window exchange — no raw-row shuffle."""
    from datalakefoundation_spark.ext.topk import grouped_topk

    df = spark.createDataFrame(
        [(f"g{i%3}", i, i) for i in range(100)], "g string, v int, id int"
    ).repartition(8)
    out = grouped_topk(df, "g", "v", 2, tiebreak=["id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    # the only hash exchange is the rank window's, downstream of the reduction
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.index("MapInPandas") > plan.index("Exchange hashpartitioning"), (
        "plan prints top-down: MapInPandas must be BELOW (i.e. before) the exchange"
    )


# ---------------------------------------------------------------- tf-idf
def test_tfidf_top_terms_log(spark):
    """Standard smooth log-IDF: a term unique to one doc outranks a term
    every doc shares, regardless of raw counts."""
    docs = spark.createDataFrame(
        [
            (1, "common common common rare"),
            (2, "common common other"),
            (3, "common filler words here"),
        ],
        "doc_id long, text string",
    )
    out = TX.tfidf_top_terms(docs, k=2)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    top1 = {d: rows[0]["token"] for d, rows in by_doc.items()
            for rows in [sorted(rows, key=lambda r: r["rank"])]}
    # 'rare' (df=1) beats 'common' (df=3) in doc 1 despite tf 1 vs 3:
    # 1*(ln(4/2)+1) = 1.69 vs 3*(ln(4/4)+1) = 3.0 — actually tf wins here;
    # check the math instead of hand-waving:
    rows1 = {r["token"]: r for r in by_doc[1]}
    import math
    for tok, tf_, df_ in (("common", 3, 3), ("rare", 1, 1)):
        if tok in rows1:
            expect = tf_ * (math.log((3 + 1) / (df_ + 1)) + 1)
            assert abs(rows1[tok]["score"] - expect) < 1e-9
            assert rows1[tok]["tf"] == tf_ and rows1[tok]["df"] == df_
    # every doc has exactly k rows with dense ranks
    for d, rows in by_doc.items():
        assert sorted(r["rank"] for r in rows) == [1, 2]


def test_tfidf_linear_matches_log_on_separated_scores(spark):
    """Where scores are well-separated the two IDF variants agree on the
    top term (sanity that 'linear' is a faithful ordering variant)."""
    docs = spark.createDataFrame(
        [(1, "unique unique filler"), (2, "filler other pad"), (3, "filler pad pad")],
        "doc_id long, text string",
    )
    top_log = {r["doc_id"]: r["token"]
               for r in TX.tfidf_top_terms(docs, k=1).collect()}
    top_lin = {r["doc_id"]: r["token"]
               for r in TX.tfidf_top_terms(docs, k=1, idf="linear").collect()}
    assert top_log[1] == top_lin[1] == "unique"


def test_tfidf_rejects_bad_idf(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="idf"):
        TX.tfidf_top_terms(docs, idf="nope")


# ---------------------------------------------------------------- pii scrub
def test_pii_scrub_planted(spark):
    """Each PII type is counted on the raw text and replaced by its token;
    clean text passes through byte-identical."""
    from datalakefoundation_spark.ext.pii import pii_scrub

    rows = [
        (1, "mail bob.smith+x@sub.example.org end"),
        (2, "host 192.168.0.1 and 10.0.0.255 twice"),
        (3, "call +1 (555) 123-4567 now"),
        (4, "acct 12345678901234 done"),
        (5, "nothing personal here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert out[1]["n_email"] == 1 and "<EMAIL>" in out[1]["redacted"]
    assert "bob" not in out[1]["redacted"]
    assert out[2]["n_ipv4"] == 2 and out[2]["redacted"].count("<IP>") == 2
    assert out[3]["n_phone"] == 1 and "<PHONE>" in out[3]["redacted"]
    assert "4567" not in out[3]["redacted"]
    assert out[4]["n_digit_run"] == 1 and "<NUMBER>" in out[4]["redacted"]
    assert out[5]["redacted"] == rows[4][1]
    assert all(out[5][c] == 0 for c in ("n_email", "n_ipv4", "n_phone", "n_digit_run"))


def test_pii_redaction_order_email_before_digits(spark):
    """An address with a numeric local part becomes one <EMAIL>, not a
    mangled <NUMBER> tail — PATTERNS order is load-bearing."""
    from datalakefoundation_spark.ext.pii import pii_scrub

    df = spark.createDataFrame([(1, "x 123456789012@example.com y")], "doc_id long, text string")
    r = pii_scrub(df).collect()[0]
    assert r["redacted"] == "x <EMAIL> y"


# ---------------------------------------------------------------- mixture sample
def test_mixture_rates_scarcest_kept_whole():
    from datalakefoundation_spark.ext.sampling import mixture_rates

    rates = mixture_rates(
        {"a": 100, "b": 1000, "c": 1000}, {"a": 0.5, "b": 0.25, "c": 0.25}
    )
    # 'a' is scarcest relative to its weight -> kept whole; b/c sampled to
    # hit 2:1:1 against a's 100 rows -> 50/1000
    assert rates["a"] == pytest.approx(1.0)
    assert rates["b"] == pytest.approx(0.05)
    assert rates["c"] == pytest.approx(0.05)


def test_mixture_rates_rejects_empty_stratum():
    from datalakefoundation_spark.ext.sampling import mixture_rates

    with pytest.raises(ValueError, match="no rows"):
        mixture_rates({"a": 10}, {"a": 0.5, "missing": 0.5})


def test_mixture_sample_proportions(spark, docs):
    """Sampled strata follow the target ratios (hash sampling is exact in
    expectation; with rate 1.0 the scarcest stratum is exactly whole)."""
    from datalakefoundation_spark.ext.sampling import mixture_sample

    out = mixture_sample(
        docs, key_col="doc_id", strata_col="source",
        weights={"src0": 0.5, "src1": 0.25},
    )
    got = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    base = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # equal-sized strata with 2:1 weights -> src0 kept whole
    assert got["src0"] == base["src0"]
    assert set(got) == {"src0", "src1"}
    assert 0 < got["src1"] <= base["src1"]


# ---------------------------------------------------------------- fuzzy decontamination
def test_decontamination_fraction_bounds(spark, docs):
    """Clone of a benchmark doc -> fraction 1.0; unrelated doc -> 0.0 and
    still present in the output (unlike the binary decontamination op)."""
    from datalakefoundation_spark.ext.dedup import decontamination_fraction

    bench = docs.limit(1).select("doc_id", "text")
    corpus = (
        docs.limit(1)
        .select((F.col("doc_id") + 500000).alias("doc_id"), "text")
        .unionByName(
            spark.createDataFrame([(999999, "zz yy xx ww vv uu qq rr ss tt")], "doc_id long, text string")
        )
    )
    out = {r["doc_id"]: r for r in decontamination_fraction(corpus, bench).collect()}
    assert out[500000]["contaminated_frac"] == pytest.approx(1.0)
    assert out[999999]["contaminated_frac"] == 0.0
    assert out[999999]["n_shingles"] > 0


# ---------------------------------------------------------------- rare tokens
def test_rare_token_stats_planted(spark):
    from datalakefoundation_spark.ext.text import rare_token_stats

    df = spark.createDataFrame(
        [
            (1, "common common xylo"),   # xylo appears only here
            (2, "common words here"),
            (3, "common words here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in rare_token_stats(df, max_df=1).collect()}
    assert out[1]["n_rare"] == 1 and out[1]["rare_ratio"] == pytest.approx(1 / 3)
    assert out[2]["n_rare"] == 0 and out[2]["rare_ratio"] == 0.0
    # occurrences counted, not distinct tokens
    assert out[1]["n_tokens"] == 3


# ---------------------------------------------------------------- collocations
def test_collocations_planted_pair(spark):
    """A pair that always co-occurs and appears nowhere else maxes the lift
    N*df_pair/(df_x*df_y); ubiquitous filler pairs score ~1."""
    from datalakefoundation_spark.ext.text import collocations

    docs = [(i, "the cat " + ("hong kong " if i % 2 == 0 else "x y ") + "end") for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = collocations(df, k=10, min_pair_docs=3).collect()
    # 'hong kong' / 'x y': df_pair=10, df_x=df_y=10, N=20 -> lift 2.0 (max
    # possible for a 50%-support pair); 'the cat' is in every doc -> 1.0
    assert {(r["x"], r["y"]) for r in out[:2]} == {("hong", "kong"), ("x", "y")}
    assert out[0]["lift"] == pytest.approx(2.0)
    lifts = {(r["x"], r["y"]): r["lift"] for r in out}
    assert lifts[("the", "cat")] == pytest.approx(1.0)


def test_collocations_min_support(spark):
    from datalakefoundation_spark.ext.text import collocations

    df = spark.createDataFrame(
        [(1, "rare pair only once"), (2, "a b"), (3, "a b"), (4, "a b")],
        "doc_id long, text string",
    )
    out = {(r["x"], r["y"]) for r in collocations(df, k=10, min_pair_docs=2).collect()}
    assert ("rare", "pair") not in out and ("a", "b") in out


# ---------------------------------------------------------------- product quantization
def test_pq_encode_deterministic_and_compact(spark, embs):
    from datalakefoundation_spark.ext.similarity import pq_codebooks, pq_encode

    books = pq_codebooks(embs, m=8, nbits=4)
    assert books.shape == (8, 16, 8)
    c1 = {r["vec_id"]: tuple(r["codes"]) for r in pq_encode(embs, books).collect()}
    c2 = {
        r["vec_id"]: tuple(r["codes"])
        for r in pq_encode(embs.repartition(7), books).collect()
    }
    assert c1 == c2  # partition-invariant
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in c1.values())
    # codebooks retrain bit-identically (no RNG anywhere)
    import numpy as np

    assert np.array_equal(books, pq_codebooks(embs, m=8, nbits=4))


def test_ivf_pq_full_rerank_equals_ivf(spark, embs):
    """With rerank covering the whole candidate set, IVF-PQ's exact
    re-rank restores plain IVF's output row-for-row — the ADC stage only
    SHORTLISTS, so a full shortlist makes the approximation disappear."""
    from datalakefoundation_spark.ext.similarity import ivf_pq_topk, ivf_topk

    base = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(embs, k=3).collect()
    }
    pq = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_pq_topk(embs, k=3, rerank=100_000).collect()
    }
    assert pq == base


def test_ivf_pq_residual_full_rerank_equals_ivf(spark, embs):
    """The residual (FAISS IVFPQ) form keeps the same contract: codes only
    SHORTLIST, so a full shortlist restores plain IVF row-for-row."""
    from datalakefoundation_spark.ext.similarity import ivf_pq_topk, ivf_topk

    base = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(embs, k=3).collect()
    }
    pq = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_pq_topk(embs, k=3, rerank=100_000, residual=True).collect()
    }
    assert pq == base


def test_ivf_pq_residual_beats_raw_on_head_heavy_vectors(spark):
    """Head-dominated count vectors are raw-PQ's failure mode: every
    vector shares the same huge head coordinates, so raw 4-bit codes tie
    massively and the ADC shortlist is near-random. Residual encoding
    subtracts the assigned centroid (which absorbs the shared head mass)
    and spends the code bits on what differs — with the SAME tight
    shortlist, residual recall must beat raw by a wide margin."""
    from datalakefoundation_spark.ext.similarity import ivf_pq_topk, ivf_topk

    # 300 vectors in 3 planted groups: identical Zipf head (dims 0-7),
    # group-specific tail (dims 8+), deterministic per-vector jitter
    # (modulo 11 — coprime with pq_codebooks' sample_stride=7, so the
    # bounded training sample sees every jitter value)
    rows = []
    for i in range(300):
        g = i % 3
        head = [1000.0 / (d + 1) for d in range(8)]
        tail = [0.0] * 56
        for d in range(8):
            tail[g * 16 + d] = 50.0 + ((i * (d + 3)) % 11)
        rows.append((i, head + tail))
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kwargs = dict(
        k=3, m=8, nbits=4, centroid_stride=100, query_stride=25,
        nprobe=3, rerank=6,
    )
    base = {}
    for r in ivf_topk(embs, k=3, centroid_stride=100, query_stride=25, nprobe=3).collect():
        base.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(residual):
        got = {}
        for r in ivf_pq_topk(embs, residual=residual, **kwargs).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(base[q] & got.get(q, set())) for q in base)
        return hits / sum(len(base[q]) for q in base)

    r_raw, r_res = recall(False), recall(True)
    assert r_res >= 0.9, f"residual recall {r_res}"
    # residual must never LOSE to raw at the same knobs; the wide at-scale
    # separation (raw 0.23 vs residual ~0.99 at 1M, nbits=4) is certified
    # on the real hashed-feature corpus in tools/ann_cert.py — this pin
    # keeps the mechanism honest at fixture size
    assert r_res >= r_raw, f"residual {r_res} vs raw {r_raw}"


def test_ivf_pq_shortlist_recall(spark, embs):
    """A tight shortlist (rerank=8) with 6-bit codebooks recovers most of
    plain IVF's top-3 — the ADC ordering is a good proxy for exact cosine.
    The fixture's near-random vectors are PQ's worst case; measured sweep:
    (m=8, nbits=4, rerank=8) -> 0.43, (4 bits, rerank=16) -> 0.63,
    (6 bits, rerank=8) -> 0.70 — recall tunes with exactly the knobs the
    operator exposes."""
    from datalakefoundation_spark.ext.similarity import ivf_pq_topk, ivf_topk

    base = {}
    for r in ivf_topk(embs, k=3).collect():
        base.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in ivf_pq_topk(embs, k=3, m=8, nbits=6, rerank=8).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(base[q] & got.get(q, set())) for q in base)
    total = sum(len(base[q]) for q in base)
    assert hits / total >= 0.6, f"recall {hits}/{total}"


@pytest.mark.slow  # multi-minute certification/equivalence run: builder gate only (r12, VERDICT r11 #1)
def test_clean_corpus_incremental_index_matches_from_scratch(spark):
    """near_dedup_index: cleaning base then batch-against-index must land
    the same survivor set as one from-scratch run over the union (ids are
    ingest-ordered: batch ids > base ids). The index is ALL previously
    seen signatures (losers included): the generator makes some base docs
    accidental near-dups of each other, so a batch doc whose only direct
    match is a base LOSER still has to lose — the from-scratch cluster's
    survivor is reachable only through that loser."""
    from datalakefoundation_spark.ext.recipes import clean_corpus

    words = [f"tok{i}" for i in range(400)]

    def doc(seed, sub=()):
        toks = [words[(seed * 13 + j * 7) % 400] for j in range(40)]
        for pos, w in sub:
            toks[pos] = w
        return " ".join(toks)

    rows = []
    # base: 20 distinct docs (ids 0..19); 3 and 7 get near-dup variants
    for i in range(20):
        rows.append((i, doc(i)))
    rows.append((20, doc(3, [(5, "changed")])))       # near-dup of 3 in base
    # batch (ids >= 100): one new distinct doc, one near-dup of base doc 7,
    # one near-dup PAIR that is wholly new
    batch_rows = [
        (100, doc(50)),
        (101, doc(7, [(9, "changed")])),              # loses to indexed 7
        (102, doc(60)),
        (103, doc(60, [(11, "changed")])),            # new pair: 102 survives
    ]
    kw = dict(min_tokens=5, redact_pii=False, near_dedup=True)
    base_docs = spark.createDataFrame(rows, "doc_id long, text string")
    all_docs = spark.createDataFrame(rows + batch_rows, "doc_id long, text string")
    batch_docs = spark.createDataFrame(batch_rows, "doc_id long, text string")

    scratch = {r["doc_id"] for r in clean_corpus(all_docs, **kw).df.collect()}

    base_res = clean_corpus(base_docs, **kw)
    base_ids = {r["doc_id"] for r in base_res.df.collect()}
    index = base_res.index_updates  # ALL base post-exact-dedup signatures
    inc = clean_corpus(batch_docs, near_dedup_index=index, **kw)
    inc_ids = {r["doc_id"] for r in inc.df.collect()}

    assert base_ids | inc_ids == scratch
    assert 101 not in inc_ids  # direct near-dup of an indexed doc
    # index_updates = every batch doc that reached near-dedup (losers too)
    upd = {r["doc_id"] for r in inc.index_updates.select("doc_id").collect()}
    assert upd == {100, 101, 102, 103}
    base_res.unpersist()
    inc.unpersist()


# ---------------------------------------------------------------- recipes
@pytest.mark.slow  # multi-minute certification/equivalence run: builder gate only (r12, VERDICT r11 #1)
def test_clean_corpus_end_to_end(spark, docs):
    """Full cleanup recipe over the fixture + planted junk: the quality
    gate drops the short doc, exact dedup drops the verbatim copy, near
    dedup drops the one-word-changed copy, decontamination drops docs
    overlapping the benchmark holdout, and PII is redacted in survivors."""
    from datalakefoundation_spark.ext.recipes import clean_corpus

    # 80-doc subset keeps the connected-components stage fast; it still
    # spans 4 sources including the src0 benchmark holdout
    base = docs.where(F.col("doc_id") < 80).select("doc_id", "text", "source")
    junk = spark.createDataFrame(
        [
            (900001, "too short", "srcX"),
            (900002, None, "srcX"),
        ],
        "doc_id long, text string, source string",
    ).where(F.col("text").isNotNull())
    exact_copy = base.where(F.col("doc_id") == 1).select(
        (F.col("doc_id") + 800000).alias("doc_id"), "text", "source"
    )
    near_copy = base.where(F.col("doc_id") == 2).select(
        (F.col("doc_id") + 800000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        "source",
    )
    pii_doc = base.where(F.col("doc_id") == 3).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" contact admin@example.com now")).alias("text"),
        "source",
    )
    corpus = (
        base.where(F.col("doc_id") != 3)
        .unionByName(junk)
        .unionByName(exact_copy)
        .unionByName(near_copy)
        .unionByName(pii_doc)
    )
    bench = base.where(F.col("source") == "src0").select("doc_id", "text")

    res = clean_corpus(
        corpus,
        benchmark=bench,
        max_contaminated_frac=0.5,
        mixture=None,
    )
    out = res.df
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 900001 not in ids  # quality gate
    assert 800001 not in ids  # exact dup loses to min-id survivor
    assert 800002 not in ids  # near dup loses
    assert 1 in ids and 2 in ids
    # src0 docs are fully contained in the benchmark -> decontaminated away
    srcs = {r["source"] for r in out.select("source").collect()}
    assert "src0" not in srcs
    # PII redacted in the surviving text
    t3 = out.where(F.col("doc_id") == 3).head()["text"]
    assert "admin@example.com" not in t3 and "<EMAIL>" in t3
    # audit counts are monotone non-increasing along the pipeline
    counts = res.counts()
    order = [n for n, _ in res.stages]
    vals = [counts[n] for n in order]
    assert vals == sorted(vals, reverse=True)
    assert order == ["input", "quality", "exact_dedup", "near_dedup", "decontaminate"]


def test_clean_corpus_mixture_stage(spark, docs):
    from datalakefoundation_spark.ext.recipes import clean_corpus

    res = clean_corpus(
        docs.select("doc_id", "text", "source"),
        near_dedup=False,
        redact_pii=False,
        mixture=("source", {"src1": 0.5, "src2": 0.25}),
    )
    srcs = {r["source"] for r in res.df.select("source").collect()}
    assert srcs <= {"src1", "src2"}
    assert res.counts()["mixture"] > 0


def test_hash_threshold_full_rate_keeps_all(spark, docs):
    from datalakefoundation_spark.ext.sampling import (
        deterministic_sample,
        hash_threshold,
    )

    assert hash_threshold(1.0) == "g"  # above every hex prefix
    assert hash_threshold(0.0) == "00000000"
    assert deterministic_sample(docs, "doc_id", 1.0).count() == docs.count()


# ---------------------------------------------------------------- span dedup
def test_span_dedup_removes_copied_span_keeps_novel_remainder(spark):
    # doc 0 owns "a b c d e"; doc 1 copies that span and adds novel text —
    # span dedup must strip exactly the copied window from doc 1, keep the
    # novel remainder, and leave doc 0 untouched (first owner wins).
    df = spark.createDataFrame(
        [
            (0, "a b c d e x y"),
            (1, "a b c d e novel words here only"),
            (2, "entirely fresh content nothing shared"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in D.span_dedup(df, span_size=5).collect()}
    assert out[0]["clean_text"] == "a b c d e x y"
    assert out[0]["n_removed"] == 0
    assert out[1]["clean_text"] == "novel words here only"
    assert out[1]["n_removed"] == 5
    assert out[2]["clean_text"] == "entirely fresh content nothing shared"
    assert out[2]["n_tokens"] == 5


def test_span_dedup_fully_copied_doc_becomes_empty(spark):
    df = spark.createDataFrame(
        [(10, "one two three four five six"), (11, "one two three four five six")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in D.span_dedup(df, span_size=5).collect()}
    assert out[10]["clean_text"] == "one two three four five six"
    assert out[11]["clean_text"] == ""
    assert out[11]["n_removed"] == out[11]["n_tokens"] == 6


# ---------------------------------------------------------------- profiling
def test_profile_columns_metrics(spark):
    from datalakefoundation_spark.ext.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (3, "a")], ["k", "v"]
    )
    prof = {r["col_name"]: r for r in profile_columns(df, exact=True).collect()}
    assert prof["k"]["n_rows"] == 4
    assert prof["k"]["n_nulls"] == 0
    assert prof["k"]["n_distinct"] == 3
    assert prof["k"]["min_value"] == "1" and prof["k"]["max_value"] == "3"
    assert prof["v"]["n_nulls"] == 1
    assert prof["v"]["completeness"] == 0.75
    assert prof["v"]["n_distinct"] == 2


def test_profile_columns_approx_within_rsd(spark, docs):
    from datalakefoundation_spark.ext.profile import profile_columns

    exact = {
        r["col_name"]: r["n_distinct"]
        for r in profile_columns(docs, ["doc_id", "source"], exact=True).collect()
    }
    approx = {
        r["col_name"]: r["n_distinct"]
        for r in profile_columns(docs, ["doc_id", "source"]).collect()
    }
    for c in exact:
        assert abs(approx[c] - exact[c]) <= max(2, 0.15 * exact[c])


# ---------------------------------------------------------------- reshard
def test_reshard_shuffle_deterministic_across_partitionings(spark, docs):
    from datalakefoundation_spark.ext.sampling import reshard_shuffle

    a = reshard_shuffle(docs, "doc_id", 8, seed="s").select(
        "doc_id", "shard", "shard_pos"
    )
    b = reshard_shuffle(docs.repartition(3), "doc_id", 8, seed="s").select(
        "doc_id", "shard", "shard_pos"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # every row lands in exactly one shard; positions are dense 1..n per shard
    per = a.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"), F.max("shard_pos").alias("mx")
    )
    assert per.where(F.col("n") != F.col("mx")).count() == 0
    # a different seed reshuffles (at least one doc moves shard)
    c = reshard_shuffle(docs, "doc_id", 8, seed="t").select("doc_id", "shard")
    moved = a.select("doc_id", "shard").join(
        c.withColumnRenamed("shard", "shard2"), "doc_id"
    )
    assert moved.where(F.col("shard") != F.col("shard2")).count() > 0


def test_clean_corpus_span_dedup_stage(spark):
    from datalakefoundation_spark.ext.recipes import clean_corpus

    novel = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    copied = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [
            (0, copied + " " + novel),
            # doc 1 copies doc 0's first 10 tokens, then 10 novel ones —
            # span dedup keeps the novel half; doc-level dedup wouldn't fire
            (1, copied + " lambda mu nu xi omicron pi rho sigma tau upsilon"),
            # doc 2 is a pure copy: rewritten to nothing, dropped by the
            # re-applied min_tokens gate
            (2, copied),
        ],
        ["doc_id", "text"],
    )
    res = clean_corpus(
        df, min_tokens=5, min_distinct_ratio=0.0,
        redact_pii=False, near_dedup=False, span_dedup_size=5,
    )
    rows = {r["doc_id"]: r["text"] for r in res.df.collect()}
    assert set(rows) == {0, 1}
    assert rows[0] == copied + " " + novel
    assert rows[1] == "lambda mu nu xi omicron pi rho sigma tau upsilon"
    names = [n for n, _ in res.stages]
    assert "span_dedup" in names


# ----------------------------------------------------- incremental minhash
def test_incremental_lsh_matches_batch_over_batches(spark, docs):
    # union of per-batch incremental candidates == from-scratch batch run
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    s1, s2 = D.minhash_signature(b1), D.minhash_signature(b2)
    incr = (
        D.lsh_candidate_pairs(s1)
        .unionByName(D.incremental_lsh_candidates(s1, s2))
        .distinct()
    )
    full = D.minhash_dedup_candidates(docs)
    assert sorted(map(tuple, incr.collect())) == sorted(map(tuple, full.collect()))


def test_incremental_lsh_finds_cross_batch_near_dupes(spark, docs):
    # a new doc that near-duplicates an indexed one must pair with it
    index_docs = docs.limit(50)
    new = (
        docs.limit(3)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tailword")))
        .withColumn("doc_id", F.col("doc_id") + 100000)
    )
    pairs = D.incremental_lsh_candidates(
        D.minhash_signature(index_docs), D.minhash_signature(new)
    )
    hits = pairs.where(
        (F.col("doc_b") - F.col("doc_a")) == 100000
    )
    assert hits.count() >= 3


def test_span_dedup_matches_python_model_on_random_corpora(spark):
    """20 seeded-random corpora vs an independent pure-Python reference,
    all checked in ONE Spark action: per-corpus tokens are namespaced
    (prefixed with the corpus id) and doc_ids offset, so spans can never
    collide across corpora and one span_dedup call over the union equals
    the per-corpus runs."""
    import random

    def model(docs, n):
        toks = {d: t.split(" ") for d, t in docs.items()}
        owner = {}
        for d in sorted(docs):
            w = toks[d]
            for i in range(max(len(w) - n + 1, 1)):
                owner.setdefault(" ".join(w[i : i + n]), d)
        out = {}
        for d in sorted(docs):
            w = toks[d]
            covered = set()
            for i in range(max(len(w) - n + 1, 1)):
                if owner[" ".join(w[i : i + n])] < d:
                    covered.update(range(i, min(i + n, len(w))))
            kept = [w[j] for j in range(len(w)) if j not in covered]
            out[d] = (" ".join(kept), len(w), len(covered))
        return out

    for span_size in (2, 3, 5):
        rng = random.Random(1000 + span_size)
        rows, expected = [], {}
        for corpus in range(20):
            vocab = [f"c{corpus}w{v}" for v in range(rng.randint(2, 6))]
            docs = {
                corpus * 100 + d: " ".join(
                    rng.choice(vocab) for _ in range(rng.randint(1, 12))
                )
                for d in range(rng.randint(2, 6))
            }
            rows += [(i, t) for i, t in docs.items()]
            expected.update(model(docs, span_size))
        got = {
            r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
            for r in D.span_dedup(
                spark.createDataFrame(rows, ["doc_id", "text"]),
                span_size=span_size,
            ).collect()
        }
        assert got == expected, f"span_size={span_size}"


def test_check_expectations_report(spark):
    from datalakefoundation_spark.ext.profile import check_expectations

    df = spark.createDataFrame(
        [(1, "a@x.io", "en"), (2, "b@y.io", "de"), (2, None, "en"), (5, "zzz", "xx")],
        ["k", "email", "lang"],
    )
    rep = {
        (r["col_name"], r["check"]): r
        for r in check_expectations(
            df,
            {
                "k": {"completeness": 1.0, "unique": True, "min": 1, "max": 4},
                "email": {"completeness": 0.9, "matches": "^[a-z]+@[a-z.]+$"},
                "lang": {"isin": ["en", "de"]},
            },
        ).collect()
    }
    assert rep[("k", "completeness")]["passed"]
    assert not rep[("k", "unique")]["passed"]
    assert rep[("k", "unique")]["observed"] == "duplicates=1"
    assert rep[("k", "min")]["passed"]
    assert not rep[("k", "max")]["passed"]          # max is 5 > 4
    assert not rep[("email", "completeness")]["passed"]  # 0.75 < 0.9
    assert not rep[("email", "matches")]["passed"]  # "zzz" violates
    assert rep[("email", "matches")]["observed"] == "violations=1"
    assert not rep[("lang", "isin")]["passed"]      # "xx" violates
    assert len(rep) == 7


def test_check_expectations_all_green_and_single_pass(spark, docs):
    from datalakefoundation_spark.ext.profile import check_expectations

    rep = check_expectations(
        docs,
        {"doc_id": {"completeness": 1.0, "unique": True, "min": 0},
         "text": {"completeness": 1.0}},
    )
    assert rep.where("NOT passed").count() == 0
    # single aggregate pass: exactly one scan of the input in the plan
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 1


@pytest.mark.slow  # multi-minute certification/equivalence run: builder gate only (r12, VERDICT r11 #1)
def test_clean_corpus_bit_reproducible_across_partitionings(spark, docs):
    """The whole composed pipeline is a pure function of the data: same
    input under a different physical partitioning produces the identical
    row multiset at every stage — the property that makes 100 TB runs
    re-startable and auditable."""
    from datalakefoundation_spark.ext.recipes import clean_corpus

    def run(d):
        return clean_corpus(
            d, min_tokens=5, min_distinct_ratio=0.0,
            redact_pii=True, near_dedup=True, span_dedup_size=5,
            mixture=("source", {"src0": 0.5, "src1": 0.5}),
        )

    a, b = run(docs), run(docs.repartition(7))
    assert sorted(map(tuple, a.df.collect())) == sorted(map(tuple, b.df.collect()))
    assert a.counts() == b.counts()


def test_clean_corpus_config_driven(spark, docs):
    from datalakefoundation_spark.ext.recipes import clean_corpus, clean_corpus_config

    cfg = {
        "quality": {"min_tokens": 5, "min_distinct_ratio": 0.0},
        "pii": {"redact": False},
        "dedup": {"near": False, "span_size": 5},
        "mixture": {"strata_col": "source", "weights": {"src0": 0.5, "src1": 0.5}},
    }
    a = clean_corpus_config(docs, cfg)
    b = clean_corpus(
        docs, min_tokens=5, min_distinct_ratio=0.0, redact_pii=False,
        near_dedup=False, span_dedup_size=5,
        mixture=("source", {"src0": 0.5, "src1": 0.5}),
    )
    assert sorted(map(tuple, a.df.collect())) == sorted(map(tuple, b.df.collect()))
    assert [n for n, _ in a.stages] == [n for n, _ in b.stages]


def test_clean_corpus_config_rejects_typos(spark, docs):
    from datalakefoundation_spark.ext.recipes import clean_corpus_config

    with pytest.raises(ValueError, match="unknown keys"):
        clean_corpus_config(docs, {"qualty": {}})
    with pytest.raises(ValueError, match="unknown keys.*dedup"):
        clean_corpus_config(docs, {"dedup": {"span_sze": 5}})
    with pytest.raises(ValueError, match="strata_col AND weights"):
        clean_corpus_config(docs, {"mixture": {"weights": {"a": 1.0}}})


def test_multimodal_features_feed_embedding_dedup(spark, docs):
    """End-to-end multimodal near-dup: binary payloads -> Arrow-batched
    feature extraction -> embedding-cosine near-dup pairs. Duplicate
    payloads (same bytes, different media ids) must surface as exact
    cosine-1.0 pairs — the composition a production image-dedup pipeline
    runs, with the codec honestly stubbed but every Spark stage real."""
    media = MM.from_text_fixture(docs.limit(40))
    dup = MM.from_text_fixture(
        docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
    )
    feats = MM.extract_features(media.unionByName(dup))
    embs = feats.select(
        F.col("media_id").alias("vec_id"),
        F.col("features").alias("embedding"),
    )
    pairs = D.embedding_near_dup_pairs(embs, threshold=0.9999)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for i in range(3):
        assert (i, i + 100000) in found
    # and exact-dup grouping on the content hash agrees
    groups = feats.groupBy("content_sha").count().where("count > 1")
    assert groups.count() == 3


def test_check_expectations_empty_input_fails_everything(spark):
    from datalakefoundation_spark.ext.profile import check_expectations

    df = spark.createDataFrame([], "k int, v string")
    rep = check_expectations(
        df,
        {"k": {"completeness": 1.0, "unique": True, "min": 0, "max": 10},
         "v": {"isin": ["a"], "matches": "^a"}},
    )
    assert rep.count() == 6
    assert rep.where("passed").count() == 0  # no data arrived == alert


def test_reshard_shuffle_validate_rejects_bad_keys(spark):
    from datalakefoundation_spark.ext.sampling import reshard_shuffle

    dup = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], ["k", "t"])
    with pytest.raises(ValueError, match="duplicate"):
        reshard_shuffle(dup, "k", 4, validate=True)
    nulls = spark.createDataFrame([(None, "a"), (2, "c")], "k int, t string")
    with pytest.raises(ValueError, match="NULL"):
        reshard_shuffle(nulls, "k", 4, validate=True)
    ok = spark.createDataFrame([(1, "a"), (2, "c")], ["k", "t"])
    assert reshard_shuffle(ok, "k", 4, validate=True).count() == 2


def test_decontamination_bloom_matches_exact(spark, docs):
    """The two-phase Bloom screen must return EXACTLY the plain
    decontamination result (no false negatives by construction; phase 2
    removes the screen's false positives), and the screen-only form must
    be a superset of the true contaminated doc set."""
    from pyspark.sql import functions as F

    benchmark = docs.limit(20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    exact = {
        (r["doc_id"], r["n_shared"])
        for r in D.decontamination(docs, benchmark).collect()
    }
    bloom = {
        (r["doc_id"], r["n_shared"])
        for r in D.decontamination_bloom(docs, benchmark).collect()
    }
    assert bloom == exact and len(exact) > 0
    screen_ids = {
        r["doc_id"]
        for r in D.decontamination_bloom(
            docs, benchmark, exact_verify=False
        ).collect()
    }
    assert {d for d, _ in exact} <= screen_ids
    # tiny filter: a 2^14-bit array must still screen correctly (more false
    # positives, still zero false negatives after verify)
    small = {
        (r["doc_id"], r["n_shared"])
        for r in D.decontamination_bloom(
            docs, benchmark, m_bits=1 << 14, k=2
        ).collect()
    }
    assert small == exact


def test_chunk_documents_covers_and_reconstructs(spark, docs):
    size, overlap, stride = 128, 32, 96
    out = TX.chunk_documents(docs, size=size, overlap=overlap).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(texts)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_idx"])
        text = texts[doc_id]
        # indices are contiguous from 0 and each chunk is the exact slice
        assert [r["chunk_idx"] for r in rows] == list(range(len(rows)))
        for r in rows:
            start = r["chunk_idx"] * stride
            assert r["chunk_text"] == text[start : start + size]
            assert r["chunk_chars"] == len(r["chunk_text"])
        # stripping the overlap from every chunk after the first
        # reconstructs the document exactly
        rebuilt = rows[0]["chunk_text"] + "".join(
            r["chunk_text"][overlap:] for r in rows[1:]
        )
        assert rebuilt == text
        # every chunk except the last is full-size; the tail is non-empty
        assert all(r["chunk_chars"] == size for r in rows[:-1])
        assert rows[-1]["chunk_chars"] >= 1


def test_chunk_documents_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "tiny"), (2, "x" * 128)], "doc_id long, text string")
    rows = TX.chunk_documents(df, size=128, overlap=32).collect()
    assert sorted((r["doc_id"], r["chunk_idx"], r["chunk_text"]) for r in rows) == [
        (1, 0, "tiny"),
        (2, 0, "x" * 128),
    ]


def test_chunk_documents_rejects_bad_overlap(spark, docs):
    with pytest.raises(ValueError):
        TX.chunk_documents(docs, size=64, overlap=64)


def test_quantize_embeddings_roundtrip_error_bound(spark, embs):
    out = SIM.quantize_embeddings(embs).collect()
    orig = {r["vec_id"]: r["embedding"] for r in embs.collect()}
    assert len(out) == len(orig)
    for r in out:
        x = orig[r["vec_id"]]
        q, scale = r["qvec"], r["scale"]
        assert len(q) == len(x)
        assert all(-127 <= v <= 127 for v in q)
        m = max(abs(v) for v in x)
        if m == 0:
            assert scale == 0 and all(v == 0 for v in q)
            continue
        assert scale == pytest.approx(m / 127.0)
        for qi, xi in zip(q, x):
            # round-half-up to the nearest scale step: error <= scale/2
            assert abs(qi * scale - xi) <= scale / 2 + 1e-12


def test_quantize_embeddings_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in SIM.quantize_embeddings(df).collect()}
    assert rows[1]["scale"] == 0.0 and rows[1]["qvec"] == [0, 0, 0]
    assert rows[2]["qvec"] == [64, -127, 32]  # scale = 2/127


def test_random_projection_arrow_matches_expr(spark, embs):
    """The numpy-matmul scale path and the pure-SQL spec twin must be
    bit-identical — integer fixed-point math makes this exact, not
    approximate."""
    a = {
        (r["vec_id"], r["j"]): r["y"]
        for r in SIM.random_projection(embs, impl="arrow").collect()
    }
    e = {
        (r["vec_id"], r["j"]): r["y"]
        for r in SIM.random_projection(embs, impl="expr").collect()
    }
    assert a == e
    assert len(a) == embs.count() * 8


def test_random_projection_preserves_similar_pairs(spark, embs):
    """Near-identical vectors must land near each other in projected space
    (sanity that the projection is structure-preserving, not degenerate)."""
    import math

    base = embs.limit(1).collect()[0]
    twin = [v + 0.001 for v in base["embedding"]]
    df = spark.createDataFrame(
        [(1, base["embedding"]), (2, twin)], "vec_id long, embedding array<float>"
    )
    ys = {
        (r["vec_id"], r["j"]): r["y"]
        for r in SIM.random_projection(df).collect()
    }
    va = [ys[(1, j)] for j in range(8)]
    vb = [ys[(2, j)] for j in range(8)]
    na, nb = math.sqrt(sum(v * v for v in va)), math.sqrt(sum(v * v for v in vb))
    assert na > 0 and nb > 0
    cos = sum(x * y for x, y in zip(va, vb)) / (na * nb)
    assert cos > 0.99
    # and the projection does not collapse everything to one direction:
    # distinct source vectors produce distinct projections
    all_ys = SIM.random_projection(embs).groupBy("vec_id").agg(
        F.collect_list("y").alias("ys")
    )
    distinct = all_ys.select(F.countDistinct(F.concat_ws(",", "ys")).alias("n")).collect()[0]["n"]
    assert distinct > embs.count() * 0.9


def test_rollup_cascade_matches_direct_agg_every_level(spark):
    """Each cascade level must equal the direct aggregation of raw data at
    that resolution — the re-aggregatable-partial-state property."""
    from datalakefoundation_spark.ext import rollup as RU
    from datalakefoundation_spark.verification.core_queries import read_events

    ev = read_events(spark, SF).withColumn("ts_us", F.expr("ts_ns div 1000")).cache()
    levels = RU.rollup_cascade(ev)
    assert list(levels) == [RU.MINUTE_US, RU.HOUR_US, RU.DAY_US]
    for width, level in levels.items():
        direct = ev.groupBy(
            (F.col("ts_us") - F.col("ts_us") % width).alias("bucket_start_us"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_dec"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        got = {tuple(r) for r in level.collect()}
        want = {tuple(r) for r in direct.collect()}
        assert got == want, f"level {width} diverges from direct agg"


def test_rollup_cascade_scans_raw_once(spark):
    """The coarse levels' plans must read the finer level, not raw events:
    the day plan contains exactly ONE scan of the raw relation."""
    from datalakefoundation_spark.ext import rollup as RU
    from datalakefoundation_spark.verification.core_queries import read_events

    ev = read_events(spark, SF).withColumn("ts_us", F.expr("ts_ns div 1000"))
    day = RU.rollup_cascade(ev)[RU.DAY_US]
    plan = day._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation [") == 1
    # and three aggregation levels are stacked (minute -> hour -> day)
    assert plan.count("Aggregate") == 3


def test_rollup_rejects_non_nested_resolutions(spark):
    from datalakefoundation_spark.ext import rollup as RU
    from datalakefoundation_spark.verification.core_queries import read_events

    ev = read_events(spark, SF).withColumn("ts_us", F.expr("ts_ns div 1000"))
    with pytest.raises(ValueError):
        RU.rollup_cascade(ev, resolutions_us=(60, 90))
    with pytest.raises(ValueError):
        RU.rollup_cascade(ev, resolutions_us=(3600, 60))


def test_gopher_quality_rules(spark):
    """Hand-built docs tripping each Gopher rule exactly once; the clean
    doc passes all eight."""
    from datalakefoundation_spark.ext.text import gopher_quality

    clean = (
        "the quick brown fox jumps over that lazy dog and runs away with "
        "great speed to have fun in the warm sunny fields of summer grass"
    )
    docs = spark.createDataFrame(
        [
            (1, clean),
            (2, "short text"),  # word count
            (3, " ".join(["a"] * 30)),  # mean word len < 3 (+required)
            (4, clean + " " + "#" * 1 + " # # #"),  # symbols (4 of ~30)
            (5, " ".join(["123"] * 15) + " " + " ".join(["456"] * 15)),  # alpha
            (6, "\n".join(["- bullet point here"] * 10)),  # bullets
            (7, "\n".join([f"line {i} trails off..." for i in range(10)])),  # ellipsis
            (8, "\n".join(["the same line of and that have with text"] * 10)),  # dup lines
            (9, " ".join(f"w{i}" for i in range(40))),  # no required words
        ],
        "doc_id long, text string",
    )
    out = gopher_quality(docs, min_words=20).collect()
    rows = {r["doc_id"]: r for r in out}
    assert rows[1]["keep"] is True, rows[1]
    expect_fail = {
        2: "ok_word_count",
        3: "ok_word_len",
        4: "ok_symbols",
        5: "ok_alpha",
        6: "ok_bullets",
        7: "ok_ellipsis",
        8: "ok_dup_lines",
        9: "ok_required_words",
    }
    for doc_id, rule in expect_fail.items():
        assert rows[doc_id][rule] is False, (doc_id, rule, rows[doc_id])
        assert rows[doc_id]["keep"] is False, (doc_id, rows[doc_id])


def test_clean_corpus_gopher_and_perplexity_stages(spark, docs):
    """The two new optional gates compose into the recipe: stage records
    appear in order, survivor sets shrink monotonically, and every kept
    doc passes both gates when re-checked standalone."""
    from datalakefoundation_spark.ext import lm as LM
    from datalakefoundation_spark.ext.recipes import clean_corpus
    from datalakefoundation_spark.ext.text import gopher_quality

    uni, bi = LM.train_bigram_lm(docs, vocab_size=300)
    res = clean_corpus(
        docs,
        min_tokens=5,
        gopher=True,
        gopher_min_words=5,
        redact_pii=False,
        near_dedup=False,
        perplexity=(uni, bi, 1e6),  # permissive: stage plumbing, not tuning
    )
    names = [n for n, _ in res.stages]
    assert names == ["input", "quality", "gopher", "exact_dedup", "perplexity"]
    counts = res.counts()
    assert (
        counts["input"]
        >= counts["quality"]
        >= counts["gopher"]
        >= counts["exact_dedup"]
        >= counts["perplexity"]
    )
    kept = res.df
    flags = gopher_quality(kept, min_words=5)
    assert flags.where(~F.col("keep")).count() == 0
    scores = LM.score_documents(kept, uni, bi)
    assert scores.where(F.col("ppl") > 1e6).count() == 0


def test_clean_corpus_gopher_kwargs_passthrough(spark):
    """Per-corpus Gopher tuning reaches the battery: a synthetic corpus
    with zero English required-words is wiped by the default battery but
    survives with ``min_required_words=0`` — through both the direct
    kwarg and the JSON-config path."""
    from datalakefoundation_spark.ext.recipes import clean_corpus, clean_corpus_config

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}x{j}" for j in range(30))) for i in range(8)],
        "doc_id long, text string",
    )
    base = dict(min_tokens=5, gopher=True, gopher_min_words=5,
                redact_pii=False, near_dedup=False)
    wiped = clean_corpus(docs, **base)
    assert wiped.df.count() == 0
    tuned = clean_corpus(docs, **base, gopher_kwargs={"min_required_words": 0})
    assert tuned.df.count() == 8
    via_config = clean_corpus_config(
        docs,
        {
            "quality": {
                "min_tokens": 5, "gopher": True, "gopher_min_words": 5,
                "gopher_kwargs": {"min_required_words": 0},
            },
            "pii": {"redact": False},
            "dedup": {"near": False},
        },
    )
    assert via_config.df.count() == 8
    with pytest.raises(ValueError):
        clean_corpus_config(docs, {"quality": {"gopher_typo": 1}})
    # overlapping/typo'd gopher_kwargs keys fail with a CLEAR ValueError up
    # front, not an opaque 'multiple values for keyword argument' TypeError
    # from the splat (min_words collides with gopher_min_words; keep_input
    # is recipe-internal)
    for bad in ({"min_words": 3}, {"keep_input": False}, {"min_wordz": 3}):
        with pytest.raises(ValueError, match="gopher_kwargs"):
            clean_corpus(docs, **base, gopher_kwargs=bad)


def test_clean_corpus_unpersist_releases_cached_survivors(spark, docs):
    """clean_corpus(near_dedup=True) persists the exact-dedup survivors for
    the clustering loop; the cached frame is surfaced on
    CleanResult.persisted and unpersist() releases it (otherwise the
    storage leaks for the lifetime of the SparkSession)."""
    from datalakefoundation_spark.ext.recipes import clean_corpus

    res = clean_corpus(docs.limit(50), redact_pii=False, near_dedup=True)
    res.df.count()
    assert len(res.persisted) == 1
    assert res.persisted[0].storageLevel.useMemory
    res.unpersist()
    assert not res.persisted[0].storageLevel.useMemory
    res.unpersist()  # idempotent
    # near_dedup=False leaves the quality/PII prefix cached for the
    # returned frame, and surfaces it for release
    res = clean_corpus(docs.limit(10), near_dedup=False)
    assert len(res.persisted) == 1
    res.unpersist()
    assert not res.persisted[0].storageLevel.useMemory


def test_hashed_features_feed_ann(spark, docs):
    """Text→vector bridge: hashed_features vectors drive the existing ANN
    ops — an exact duplicate document is its twin's rank-1 neighbor at
    cosine 1.0, and the dense form matches the long-form entries."""
    from datalakefoundation_spark.ext import similarity as SIM

    base = docs.limit(30)
    dup = base.limit(1).withColumn("doc_id", F.col("doc_id") + 500_000)
    corpus = base.unionByName(dup)
    feats = SIM.hashed_features(corpus, dim=64).cache()
    # dense == long form
    entries = {
        (r["doc_id"], r["bucket"]): r["weight"]
        for r in SIM.hashed_feature_entries(corpus, dim=64).collect()
    }
    for r in feats.collect():
        for b, v in enumerate(r["features"]):
            assert v == float(entries.get((r["doc_id"], b), 0)), (r["doc_id"], b)
    dup_id = dup.first()["doc_id"]
    orig_id = base.first()["doc_id"]
    top = SIM.brute_force_topk(
        feats.where(F.col("doc_id") == dup_id),
        feats,
        k=1,
        id_col="doc_id",
        vec_col="features",
    ).first()
    assert top["neighbor_id"] == orig_id
    assert top["cosine"] == pytest.approx(1.0, abs=1e-12)


def test_text_near_dup_in_place_score_bit_identical(spark, docs):
    """score='in_place' (cosine during the band expansion, no
    candidates x entries join) must reproduce the sparse-rescore
    composition BIT-identically: hashed-feature weights are exact
    integers, so dense and sparse dots/norms are the same exact values
    and the final IEEE ops are identical."""
    from datalakefoundation_spark.ext.similarity import text_near_dup_scaled

    base = docs.limit(60)
    near = base.limit(12).select(
        (F.col("doc_id") + 700_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        *[c for c in base.columns if c not in ("doc_id", "text")],
    )
    corpus = base.unionByName(near)
    kw = dict(threshold=0.6, bands=6, planes_per_band=6)
    sparse = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in text_near_dup_scaled(corpus, score="sparse", **kw).collect()
    }
    inplace = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in text_near_dup_scaled(corpus, score="in_place", **kw).collect()
    }
    assert sparse == inplace  # exact equality, values included
    assert len(sparse) >= 12
    with pytest.raises(ValueError):
        text_near_dup_scaled(corpus, score="nope")


def test_lsh_centering_on_nonnegative_vectors(spark):
    """Mean-centered projections fix the degenerate all-nonnegative case:
    on head-dominated count vectors the uncentered sign signature is one
    giant bucket (every vector in the positive orthant, the shared head
    mass decides every plane), while centering spreads the corpus over
    many buckets — and never changes emitted cosine VALUES, only which
    candidate pairs surface."""
    import numpy as np

    from datalakefoundation_spark.ext import similarity as SIM

    rng = np.random.default_rng(7)
    # head-dominated nonnegative vectors: big shared head + small tail
    rows = []
    for i in range(200):
        v = np.zeros(64)
        v[0] = 100.0 + rng.integers(0, 5)
        v[1] = 50.0 + rng.integers(0, 5)
        v[2 + rng.integers(0, 62)] = rng.integers(1, 10)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def n_buckets(center):
        sig = SIM._banded_pairs.__globals__["_signature_column"]
        mu = None
        if center:
            import numpy as _np
            M = _np.array([r[1] for r in rows])
            mu = M.mean(axis=0)
        return (
            df.select(sig(F.col("embedding"), 32, 64, center_means=mu).alias("s"))
            .select(F.substring("s", 1, 8).alias("b"))
            .distinct()
            .count()
        )

    assert n_buckets(center=False) <= 3  # degenerate: ~one sign pattern
    assert n_buckets(center=True) >= 20  # centered: spread out
    # candidates from the centered path are still exact-cosine pairs
    cand = SIM.lsh_near_dup_candidates(
        df, bands=4, planes_per_band=8, center=True
    )
    assert cand.count() > 0


def test_text_near_dup_scaled_vs_baseline(spark, docs):
    """The LSH-candidates + sparse-re-score scale path vs the all-pairs
    baseline: every emitted pair must carry the EXACT baseline cosine
    (precision 1.0 by construction), and recall on the fixture must be
    substantial (tunable with bands — 8 here)."""
    from datalakefoundation_spark.ext import similarity as SIM

    corpus = docs.limit(120)
    base_pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in SIM.sparse_cosine_pairs(
            SIM.hashed_feature_entries(corpus, dim=64), threshold=0.9
        ).collect()
    }
    assert base_pairs, "fixture must contain near-dup pairs at 0.9"
    scaled = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in SIM.text_near_dup_scaled(
            corpus, dim=64, threshold=0.9, bands=8
        ).collect()
    }
    for k, v in scaled.items():
        assert k in base_pairs, f"scaled emitted a non-baseline pair {k}"
        assert v == base_pairs[k], f"cosine mismatch on {k}"
    recall = len(scaled) / len(base_pairs)
    assert recall >= 0.5, (len(scaled), len(base_pairs))


@pytest.mark.slow  # multi-minute certification/equivalence run: builder gate only (r12, VERDICT r11 #1)
def test_incremental_dedup_prefix_consistency_bridge(spark):
    """Pins the ONLINE dedup semantic found at 1M scale by
    tools/stream_ingest_probe.py: a later doc can BRIDGE two clusters the
    earlier ingest kept separately. The incremental path is
    prefix-consistent — every from-scratch survivor still survives (the
    component's global-min id never loses), the bridged cluster's later
    survivor is extra and NOT retracted — by design (a stream cannot
    un-emit), documented in recipes.py / streaming/ops.py."""
    from datalakefoundation_spark.ext.dedup import minhash_dedup_candidates
    from datalakefoundation_spark.ext.recipes import clean_corpus

    fixture = None
    for salt in range(40):
        wa = [f"a{salt}w{i}" for i in range(40)]
        wb = [f"b{salt}w{i}" for i in range(40)]
        a, a2 = " ".join(wa), " ".join(wa[:-1] + ["zz1"])
        b, b2 = " ".join(wb), " ".join(wb[:-1] + ["zz2"])
        w = a2 + " " + b2  # contains both clusters' shingle sets
        all_docs = spark.createDataFrame(
            [(1, a), (2, a2), (3, b), (4, b2), (10, w)],
            "doc_id long, text string",
        )
        got = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_dedup_candidates(all_docs).collect()
        }
        # need: w bridges both clusters; no direct a-cluster/b-cluster pair
        cross = {(x, y) for x in (1, 2) for y in (3, 4)}
        if (
            any(p in got for p in [(1, 10), (2, 10)])
            and any(p in got for p in [(3, 10), (4, 10)])
            and not (cross & got)
            and (1, 2) in got
            and (3, 4) in got
        ):
            fixture = all_docs
            break
    assert fixture is not None, "no salt produced the bridge geometry"

    kw = dict(min_tokens=3, redact_pii=False)
    # from-scratch over everything: one component {1,2,3,4,10} -> min id 1
    scratch = {r["doc_id"] for r in clean_corpus(fixture, **kw).df.collect()}
    assert scratch == {1}
    # streamed shape: ingest {1,2,3,4} first (two separate clusters), then
    # the bridge doc 10 against the standing index
    first = fixture.where("doc_id < 10")
    res1 = clean_corpus(first, **kw)
    surv1 = {r["doc_id"] for r in res1.df.collect()}
    assert surv1 == {1, 3}
    index = res1.index_updates
    res2 = clean_corpus(fixture.where("doc_id = 10"), near_dedup_index=index, **kw)
    surv2 = {r["doc_id"] for r in res2.df.collect()}
    streamed = surv1 | surv2
    res1.unpersist()
    res2.unpersist()
    # prefix consistency: batch survivors ⊆ streamed survivors, bridge doc
    # absorbed, and the ONLY excess is the second cluster's earlier
    # survivor (3), kept because it was emitted before the merge existed
    assert scratch <= streamed
    assert streamed == {1, 3}
    # X54: the periodic compaction converges to the from-scratch set —
    # re-clustering the FULL index (losers included: the a—a'—w—b'—b
    # bridge path runs through absorbed docs) drops the bridged extra
    from datalakefoundation_spark.ext.recipes import reconcile_survivors

    index_all = index.unionByName(res2.index_updates)
    surv_df = fixture.where(F.col("doc_id").isin([int(x) for x in streamed]))
    reconciled = {
        r["doc_id"]
        for r in reconcile_survivors(surv_df, index_all).select("doc_id").collect()
    }
    assert reconciled == scratch == {1}

    # frontier-bounded X54 (r9): same convergence, but re-clustering ONLY
    # from the frontier (doc 10) against the prior assignment — the exact
    # bridge-through-frontier case: doc 10's edges contract to the two
    # prior cluster labels (1 and 3), the reduced component {10, 1, 3}
    # re-minimizes to 1, and survivor 3 is dropped without touching any
    # untouched component
    from datalakefoundation_spark.ext.recipes import (
        cluster_assignment,
        reconcile_survivors_frontier,
    )

    prior = cluster_assignment(index)  # state as of the pre-bridge reconcile
    assert {(r["node"], r["cluster_id"]) for r in prior.collect()} == {
        (1, 1), (2, 1), (3, 3), (4, 3),
    }
    fr = reconcile_survivors_frontier(
        surv_df, index_all, res2.index_updates, prior
    )
    assert {r["doc_id"] for r in fr.df.select("doc_id").collect()} == {1}
    ups = {(r["node"], r["cluster_id"]) for r in fr.updates.collect()}
    # doc 10 joins cluster 1; cluster 3's members (3, 4) relabel to 1
    assert ups == {(10, 1), (3, 1), (4, 1)}
    # the full post-reconcile assignment equals a from-scratch clustering
    want_assign = {
        (r["node"], r["cluster_id"])
        for r in cluster_assignment(index_all).collect()
    }
    got_assign = {(r["node"], r["cluster_id"]) for r in fr.assignment.collect()}
    assert got_assign == want_assign


@pytest.mark.slow  # multi-minute certification/equivalence run: builder gate only (r12, VERDICT r11 #1)
def test_frontier_reconcile_matches_full_over_rounds(spark):
    """Multi-round equality: ingest a randomized near-dup corpus in waves,
    frontier-reconcile after each wave, and require the survivor set AND
    the assignment state to equal the from-scratch full reconcile at every
    round — including waves whose docs bridge, extend, and singleton."""
    import random

    from datalakefoundation_spark.ext.dedup import minhash_signature
    from datalakefoundation_spark.ext.recipes import (
        cluster_assignment,
        reconcile_survivors,
        reconcile_survivors_frontier,
    )

    rng = random.Random(20260816)
    vocab = [f"w{i}" for i in range(400)]
    base_texts = {}
    rows = []
    did = 0
    for wave in range(3):
        for _ in range(25):
            did += 1
            if base_texts and rng.random() < 0.5:
                # near-dup of an earlier doc: one token changed
                src = rng.choice(list(base_texts))
                toks = base_texts[src].split()
                toks[rng.randrange(len(toks))] = f"v{did}"
                text = " ".join(toks)
            else:
                text = " ".join(rng.choice(vocab) for _ in range(30))
                base_texts[did] = text
            rows.append((did, text, wave))
    docs = spark.createDataFrame(rows, "doc_id long, text string, wave int")
    sigs_all = minhash_signature(docs, "text", "doc_id").join(
        docs.select("doc_id", "wave"), "doc_id"
    ).localCheckpoint(eager=True)

    # bootstrap: full reconcile over wave 0
    idx = sigs_all.where("wave = 0").drop("wave")
    assignment = cluster_assignment(idx)
    survivors = reconcile_survivors(
        docs.where("wave = 0").drop("wave"), idx
    )
    for wave in (1, 2):
        frontier = sigs_all.where(f"wave = {wave}").drop("wave")
        idx = sigs_all.where(f"wave <= {wave}").drop("wave")
        # streamed shape: the wave's docs all arrive as survivors first
        # (the per-batch ingest would absorb some, but feeding the superset
        # exercises the loser filter hardest)
        surv_in = survivors.select("doc_id", "text").unionByName(
            docs.where(f"wave = {wave}").select("doc_id", "text")
        )
        fr = reconcile_survivors_frontier(surv_in, idx, frontier, assignment)
        got = {r["doc_id"] for r in fr.df.select("doc_id").collect()}
        want_full = {
            r["doc_id"]
            for r in reconcile_survivors(surv_in, idx).select("doc_id").collect()
        }
        assert got == want_full, f"wave {wave}: {got ^ want_full}"
        got_assign = {
            (r["node"], r["cluster_id"]) for r in fr.assignment.collect()
        }
        want_assign = {
            (r["node"], r["cluster_id"])
            for r in cluster_assignment(idx).collect()
        }
        assert got_assign == want_assign, f"wave {wave} assignment diverged"
        assignment = fr.assignment.localCheckpoint(eager=True)
        survivors = fr.df.localCheckpoint(eager=True)


@pytest.mark.slow  # multi-minute certification/equivalence run: builder gate only (r12, VERDICT r11 #1)
def test_frontier_reconcile_idempotent_on_covered_frontier(spark):
    """Degraded mode (a lost reconcile ledger re-frontiers batches the
    assignment already covers): re-deriving edges whose endpoints all
    carry assignment rows contracts them to their existing labels, the
    reduced graph collapses to self-edges, and the reconcile converges to
    an EMPTY update set with survivors unchanged — wasteful, never wrong
    (the safety property reconcile_clean_corpus's ledger walk relies on)."""
    from datalakefoundation_spark.ext.dedup import minhash_signature
    from datalakefoundation_spark.ext.recipes import (
        cluster_assignment,
        reconcile_survivors_frontier,
    )
    from tests.helpers import find_bridge_fixture

    fixture = find_bridge_fixture(spark)
    sigs = minhash_signature(fixture, "text", "doc_id").localCheckpoint(eager=True)
    assignment = cluster_assignment(sigs)  # covers every doc incl. the bridge
    survivors = fixture.where("doc_id = 1").select("doc_id")
    fr = reconcile_survivors_frontier(
        survivors, sigs, sigs.where("doc_id = 10"), assignment
    )
    assert fr.updates.count() == 0
    assert {r["doc_id"] for r in fr.df.collect()} == {1}
    got = {(r["node"], r["cluster_id"]) for r in fr.assignment.collect()}
    want = {(r["node"], r["cluster_id"]) for r in assignment.collect()}
    assert got == want


def test_banded_incremental_candidates_matches_inline(spark):
    """r10 directive #1: the frontier band join fed from STORED band rows
    must emit exactly the inline (signature-derived) pair set — including
    when the stored side is PRUNED to rows whose band_key appears on the
    new side (the file-skip soundness claim: a dropped row shares no band
    key with the batch, so it can contribute no edge)."""
    import random

    from datalakefoundation_spark.ext.dedup import (
        band_explode,
        banded_incremental_candidates,
        incremental_lsh_candidates,
        minhash_signature,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(300)]
    rows, texts = [], {}
    for did in range(1, 81):
        if texts and rng.random() < 0.45:
            src = rng.choice(list(texts))
            toks = texts[src].split()
            toks[rng.randrange(len(toks))] = f"v{did}"
            rows.append((did, " ".join(toks)))
        else:
            texts[did] = " ".join(rng.choice(vocab) for _ in range(25))
            rows.append((did, texts[did]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signature(docs, "text", "doc_id").localCheckpoint(eager=True)
    prior = sigs.where("doc_id <= 60")
    new = sigs.where("doc_id > 60")

    want = {
        (r["doc_a"], r["doc_b"])
        for r in incremental_lsh_candidates(prior, new).collect()
    }
    prior_bands = band_explode(prior).localCheckpoint(eager=True)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in banded_incremental_candidates(prior_bands, new).collect()
    }
    assert got == want and len(want) > 0

    # pruned stored side: keep only band rows whose key the batch carries
    new_keys = band_explode(new).select("band_key").distinct()
    pruned = prior_bands.join(new_keys, "band_key", "left_semi")
    kept, total = pruned.count(), prior_bands.count()
    assert kept < total  # the prune must actually drop rows here
    got_pruned = {
        (r["doc_a"], r["doc_b"])
        for r in banded_incremental_candidates(pruned, new).collect()
    }
    assert got_pruned == want


def test_frontier_reconcile_banded_path_identical(spark):
    """reconcile_survivors_frontier(prior_banded=...) is row-identical to
    the signature path on survivors, updates, AND assignment."""
    import random

    from datalakefoundation_spark.ext.dedup import band_explode, minhash_signature
    from datalakefoundation_spark.ext.recipes import (
        cluster_assignment,
        reconcile_survivors_frontier,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(300)]
    rows, texts = [], {}
    for did in range(1, 101):
        if texts and rng.random() < 0.5:
            src = rng.choice(list(texts))
            toks = texts[src].split()
            toks[rng.randrange(len(toks))] = f"v{did}"
            rows.append((did, " ".join(toks)))
        else:
            texts[did] = " ".join(rng.choice(vocab) for _ in range(25))
            rows.append((did, texts[did]))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signature(docs, "text", "doc_id").localCheckpoint(eager=True)
    prior_sigs = sigs.where("doc_id <= 75")
    frontier = sigs.where("doc_id > 75")
    assignment = cluster_assignment(prior_sigs).localCheckpoint(eager=True)
    losers = assignment.where("node != cluster_id").selectExpr("node AS doc_id")
    surv = docs.select("doc_id").join(losers, "doc_id", "left_anti")

    base = reconcile_survivors_frontier(surv, sigs, frontier, assignment)
    banded = reconcile_survivors_frontier(
        surv, sigs, frontier, assignment,
        prior_banded=band_explode(prior_sigs),
    )
    for attr in ("df", "updates", "assignment"):
        want = {tuple(r) for r in getattr(base, attr).collect()}
        got = {tuple(r) for r in getattr(banded, attr).collect()}
        assert got == want, (attr, got ^ want)
    assert base.updates.count() > 0  # the fixture must exercise relabeling
