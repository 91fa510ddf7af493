"""Extension-operator queries (dedup / similarity / text analysis) with
DuckDB oracles over the ``documents`` and ``embeddings`` tables.

The SimHash and LSH oracles are *generated* from the same Python constants
as the Spark implementations (hash layouts, hyperplane signs), so both
engines execute the identical specification.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalakefoundation_spark.verification.io import read_table

from datalakefoundation_spark.ext import dedup as D
from datalakefoundation_spark.ext import similarity as SIM
from datalakefoundation_spark.ext import text as TX


def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents")


def _embs(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------- text stats
def q_text_stats(spark, sf_dir):
    df = TX.quality_stats(_docs(spark, sf_dir))
    return df.select("doc_id", "n_chars_m", "n_tokens", "distinct_ratio", "stopword_ratio")


_SW = ", ".join(f"'{s}'" for s in TX.EN_STOPWORDS)

SQL_TEXT_STATS = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       length((SELECT text FROM documents d WHERE d.doc_id = w.doc_id)) AS n_chars_m,
       len(w) AS n_tokens,
       len(list_distinct(w)) / len(w) AS distinct_ratio,
       len(list_filter(w, t -> list_contains([{_SW}], t))) / len(w) AS stopword_ratio
FROM w
"""


def q_token_count(spark, sf_dir):
    df = _docs(spark, sf_dir)
    return df.select(
        "doc_id",
        TX.token_count("text").alias("n_ws_tokens"),
        TX.bpe_token_count("text").alias("n_bpe_tokens"),
    )


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{TX.BPE_PATTERN}')) AS n_bpe_tokens
FROM documents
"""


def q_lang_id(spark, sf_dir):
    return TX.lang_id(_docs(spark, sf_dir)).select("doc_id", "lang", "predicted_lang")


SQL_LANG_ID = f"""
SELECT doc_id, lang,
       CASE WHEN len(list_filter(string_split(text, ' '), t -> list_contains([{_SW}], t)))
                 / len(string_split(text, ' ')) > 0.02
            THEN 'en' ELSE 'und' END AS predicted_lang
FROM documents
"""


def q_doc_fingerprint(spark, sf_dir):
    return TX.add_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


SQL_DOC_FINGERPRINT = """
SELECT doc_id,
       sha256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------- exact dedup
def q_dedup_exact(spark, sf_dir):
    return D.exact_dedup_groups(_docs(spark, sf_dir))


SQL_DEDUP_EXACT = """
SELECT sha256(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY sha256(text)
"""


# ---------------------------------------------------------------- MinHash LSH
_SHINGLE_CTE = """
WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
iw AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM w0),
sh AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 2), ' ') AS s FROM iw)
"""

_MINHASH_AGGS = ", ".join(
    f"min(substring(sha256(s), {8 * i + 1}, 8)) AS h{i}" for i in range(8)
)
_BAND_SELECTS = "\nUNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, sha256(concat_ws('|', h{2*b}, h{2*b+1})) AS band_key FROM sig"
    for b in range(4)
)


def q_dedup_minhash(spark, sf_dir):
    return D.minhash_dedup_candidates(_docs(spark, sf_dir))


SQL_DEDUP_MINHASH = f"""{_SHINGLE_CTE},
sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_SELECTS})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


# ---------------------------------------------------------------- SimHash
def q_dedup_simhash(spark, sf_dir):
    return D.simhash(_docs(spark, sf_dir))


def _simhash_oracle_sql(bits: int = 64) -> str:
    sums = []
    for b in range(bits):
        nibble = f"substring(h, {b // 4 + 1}, 1)"
        val = f"(instr('0123456789abcdef', {nibble}) - 1)"
        sums.append(f"sum(({val} >> {3 - b % 4}) % 2) AS s{b}")
    chars = ", ".join(
        f"CASE WHEN 2 * s{b} > n THEN '1' ELSE '0' END" for b in range(bits)
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
hh AS (SELECT doc_id, substring(sha256(t), 1, 16) AS h FROM tok),
agg AS (SELECT doc_id, count(*) AS n, {', '.join(sums)} FROM hh GROUP BY doc_id)
SELECT doc_id, concat({chars}) AS simhash FROM agg
"""


# ---------------------------------------------------------------- n-gram Jaccard
def q_ngram_jaccard(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # neighbor-window candidates as an explode+equi-join, NOT a range-theta
    # join (which Spark can only plan as a nested-loop join); nonexistent
    # doc_b ids drop out in the inner join inside ngram_jaccard_pairs
    cand = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.explode(F.sequence(F.col("doc_id") + 1, F.col("doc_id") + 5)).alias("doc_b"),
    )
    return D.ngram_jaccard_pairs(docs, cand)


SQL_NGRAM_JACCARD = f"""{_SHINGLE_CTE},
ds AS (SELECT doc_id, list_distinct(list(s)) AS sh FROM sh GROUP BY doc_id)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.sh, b.sh))
         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
FROM ds a JOIN ds b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
"""


# ---------------------------------------------------------------- embeddings
_COS = (
    "list_dot_product(a.v, b.v) / "
    "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)


def q_embedding_near_dup(spark, sf_dir):
    return D.embedding_near_dup_pairs(_embs(spark, sf_dir), threshold=0.45)


SQL_EMBEDDING_NEAR_DUP = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS} AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE {_COS} >= 0.45
"""


def q_chunk_documents(spark, sf_dir):
    return TX.chunk_documents(_docs(spark, sf_dir), size=128, overlap=32)


# stride = size - overlap = 96; identical ceil/double boundary arithmetic
SQL_CHUNK_DOCUMENTS = """
WITH c AS (
  SELECT doc_id, text,
         unnest(generate_series(0, greatest(0,
           CAST(ceil((length(text) - 128) / CAST(96 AS DOUBLE)) AS INT)))) AS i
  FROM documents)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       substring(text, CAST(i AS INT) * 96 + 1, 128) AS chunk_text,
       length(substring(text, CAST(i AS INT) * 96 + 1, 128)) AS chunk_chars
FROM c
"""


def q_embedding_quantize(spark, sf_dir):
    # posexploded to scalar rows (vec_id, scale, i, q): the driver's pandas
    # canonicalizer sort_values/factorizes raw cell values and cannot hash a
    # list, so an array<int> result column errs at the driver even though the
    # local gate string-canonicalizes it (r7 driver red). Same shape that
    # made q_random_projection driver-green.
    #
    # posexplode_OUTER, deliberately: plain posexplode lets
    # InferFiltersFromGenerate synthesize `size(qvec)>0 AND isnotnull(qvec)`
    # with the qvec transform INLINED and __m re-expanded inside the
    # element lambda — re-introducing the O(d²) array_max-per-element trap
    # quantize_embeddings exists to avoid (measured 0.97 s vs 0.12 s at
    # sf0.1). Outer generate skips that inference; and so the pairing does
    # not silently depend on the fixture having only non-null fixed-length
    # embeddings (outer emits a (vec_id, scale, NULL, NULL) row for an
    # empty vec where the oracle's generate_series emits nothing), both
    # sides filter empties on the INPUT column — size(embedding), never
    # size(qvec), which would hand the optimizer the inlined transform
    # right back.
    embs = _embs(spark, sf_dir).where(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    )
    q = SIM.quantize_embeddings(embs)
    return q.select(
        "vec_id", "scale", F.posexplode_outer("qvec").alias("i", "q")
    )


# mirrors quantize_embeddings step-for-step: float->double widening, max|x|,
# scale = m/127, round-half-up via floor(x/scale + 0.5), clamp to ±127;
# unnested to one row per element to keep every result column scalar
SQL_EMBEDDING_QUANTIZE = """
WITH m AS (
  SELECT vec_id, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
q AS (
  SELECT e.vec_id, m.m / 127.0 AS scale,
    list_transform(e.embedding, x -> CASE WHEN m.m = 0 THEN 0 ELSE
      CAST(greatest(-127, least(127,
        CAST(floor(CAST(x AS DOUBLE) / (m.m / 127.0) + 0.5) AS BIGINT))) AS INT) END) AS qvec
  FROM embeddings e JOIN m USING (vec_id))
SELECT vec_id, scale, CAST(i AS INT) AS i, qvec[CAST(i AS INT) + 1] AS q
FROM q, unnest(generate_series(0, len(qvec) - 1)) AS t(i)
"""


def q_random_projection(spark, sf_dir):
    # arrow impl: the scale path (numpy int64 matmul); the expr twin is
    # equivalence-tested against it in tests/test_ext_operators.py
    return SIM.random_projection(_embs(spark, sf_dir), impl="arrow")


# sign constants (40503/9973/65537 mod 97 mod 2) must stay in sync with
# similarity._RP_SIGN; fixed-point s_i = floor(x_i*1000 + 0.5) keeps the
# whole projection in exact integer arithmetic (order-independent sums)
SQL_RANDOM_PROJECTION = """
WITH elems AS (
  SELECT vec_id, embedding, unnest(generate_series(0, 63)) AS i FROM embeddings),
 s AS (
  SELECT vec_id, CAST(i AS BIGINT) AS i,
         CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT) AS s
  FROM elems),
 ej AS (SELECT s.*, unnest(generate_series(0, 7)) AS j FROM s)
SELECT vec_id, CAST(j AS INT) AS j,
       CAST(SUM((1 - 2 * ((i * 40503 + j * 9973 + i * j * 65537) % 97 % 2)) * s) AS BIGINT) AS y
FROM ej GROUP BY vec_id, j
"""


def q_event_rollup(spark, sf_dir):
    """Day-level continuous-aggregate computed through the FULL cascade
    (raw -> minute -> hour -> day) — the oracle aggregates raw directly,
    so a pass proves the partial-agg state re-aggregates exactly."""
    from datalakefoundation_spark.ext import rollup as RU
    from datalakefoundation_spark.verification.core_queries import read_events

    ev = read_events(spark, sf_dir).withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    levels = RU.rollup_cascade(ev)
    return RU.finalize(levels[RU.DAY_US])


SQL_EVENT_ROLLUP = """
SELECT epoch_us(ts) // 86400000000 * 86400000000 AS bucket_start_us,
       event_type, count(*) AS n_events,
       min(value) AS min_value, max(value) AS max_value,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_value
FROM events
GROUP BY bucket_start_us, event_type
"""


def q_rollup_gapfill(spark, sf_dir):
    """Hourly continuous-aggregate gap-filled LOCF: one row per hour per
    event_type between each type's first and last observed hour, carried
    counts/sums on silent hours, `gap` marking synthesized rows (34-53
    real gaps per type at sf0.01)."""
    from datalakefoundation_spark.ext import rollup as RU
    from datalakefoundation_spark.verification.core_queries import read_events

    ev = read_events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    level = RU.rollup_cascade(ev, resolutions_us=(RU.HOUR_US,))[RU.HOUR_US]
    g = RU.gapfill(
        level, RU.HOUR_US, value_cols=("n_events", "sum_dec"), strategy="locf"
    )
    return g.select(
        "bucket_start_us",
        "event_type",
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
        "gap",
    )


SQL_ROLLUP_GAPFILL = """
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 * 3600000000 AS b, event_type,
         count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s
  FROM events GROUP BY b, event_type),
span AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM hourly GROUP BY event_type),
grid AS (
  SELECT s.event_type, gs.g AS b
  FROM span s, LATERAL unnest(generate_series(s.lo, s.hi, 3600000000)) AS gs(g)),
j AS (
  SELECT g.b, g.event_type, h.n, h.s
  FROM grid g LEFT JOIN hourly h ON h.b = g.b AND h.event_type = g.event_type)
SELECT b AS bucket_start_us, event_type,
  last_value(n IGNORE NULLS) OVER w AS n_events,
  last_value(s IGNORE NULLS) OVER w AS sum_value,
  n IS NULL AS gap
FROM j
WINDOW w AS (PARTITION BY event_type ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_time_weighted_avg(spark, sf_dir):
    """Hourly LOCF time-weighted average per event_type over the irregular
    event stream — each sample holds until the type's next sample, held
    intervals split across hour buckets, decimal×µs exact weighting."""
    from datalakefoundation_spark.ext import rollup as RU
    from datalakefoundation_spark.verification.core_queries import read_events

    ev = read_events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    return RU.time_weighted_avg(ev, resolution_us=RU.HOUR_US)


SQL_TIME_WEIGHTED_AVG = """
WITH s AS (
  SELECT event_type, epoch_us(ts) AS t0,
         CAST(value AS DECIMAL(18,4)) AS v,
         lead(epoch_us(ts)) OVER (PARTITION BY event_type
           ORDER BY epoch_us(ts), CAST(value AS DECIMAL(18,4))) AS t1
  FROM events),
spans AS (SELECT * FROM s WHERE t1 > t0),
split AS (
  SELECT event_type, t0, t1, v, gs.b AS bucket_start_us
  FROM spans, LATERAL unnest(generate_series(
    t0 - t0 % 3600000000, (t1 - 1) - (t1 - 1) % 3600000000, 3600000000)) AS gs(b)),
d AS (
  SELECT event_type, bucket_start_us, v,
         least(t1, bucket_start_us + 3600000000) - greatest(t0, bucket_start_us) AS dur
  FROM split)
SELECT bucket_start_us, event_type,
       CAST(sum(v * dur) AS DOUBLE) / CAST(sum(dur) AS DOUBLE) AS twa,
       CAST(sum(dur) AS BIGINT) AS covered_us
FROM d GROUP BY bucket_start_us, event_type
"""


def q_histogram_percentiles(spark, sf_dir):
    """Daily p50/p90/p99 per event_type FINALIZED FROM a minute-level
    fixed-grid histogram coarsened to day — the oracle bins raw directly
    at day level, so a pass proves the histogram partial re-aggregates
    exactly across the ladder."""
    from datalakefoundation_spark.ext import rollup as RU
    from datalakefoundation_spark.verification.core_queries import read_events

    ev = read_events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    minute = RU.value_histogram(ev, lo=0.0, hi=500.0, nbins=50)
    day = RU.coarsen_histogram(minute, RU.DAY_US)
    return RU.percentiles_from_histogram(day, 0.0, 500.0, 50)


SQL_HISTOGRAM_PERCENTILES = """
WITH h AS (
  SELECT epoch_us(ts) // 86400000000 * 86400000000 AS b, event_type,
         least(49, greatest(0, CAST(floor(CAST(value AS DOUBLE) / 10.0) AS INT))) AS bin,
         count(*) AS c
  FROM events GROUP BY b, event_type, bin),
cum AS (
  SELECT b, event_type, bin, c,
    sum(c) OVER (PARTITION BY b, event_type ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(c) OVER (PARTITION BY b, event_type) AS total
  FROM h),
ps AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p)
SELECT b AS bucket_start_us, event_type, p,
       0.0 + (bin + (p * total - (cum - c)) / c) * 10.0 AS value
FROM cum, ps
WHERE cum >= p * total AND cum - c < p * total
"""


def q_bigram_lm(spark, sf_dir):
    """Bigram LM TRAINING tables (ext/lm.py): vocabulary-capped unigram
    and bigram counts over the documents corpus — the exact-integer half
    of CCNet-style perplexity filtering (the ln-based score itself is not
    bit-portable across engines; it is tolerance-verified in
    tests/test_lm.py). Bigrams with c12 >= 3, vocab_size=200 so the
    <unk> mapping is actually exercised at sf0.01."""
    from datalakefoundation_spark.ext import lm as LM

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    uni, bi = LM.train_bigram_lm(docs, vocab_size=200)
    return (
        bi.where(F.col("c12") >= 3)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
        .select("w1", "w2", "c12", "c1")
    )


SQL_BIGRAM_LM = """
WITH tok AS (
  SELECT t.token FROM documents, unnest(string_split(text, ' ')) AS t(token)),
raw_uni AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
vocab AS (SELECT token FROM raw_uni ORDER BY c DESC, token ASC LIMIT 200),
uni AS (
  SELECT CASE WHEN v.token IS NULL THEN '<unk>' ELSE tok.token END AS w,
         count(*) AS c
  FROM tok LEFT JOIN vocab v USING (token) GROUP BY w),
w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 2),
bg AS (
  SELECT w[i] AS x, w[i + 1] AS y
  FROM w, unnest(generate_series(1, len(w) - 1)) AS t(i)),
mapped AS (
  SELECT CASE WHEN vx.token IS NULL THEN '<unk>' ELSE bg.x END AS w1,
         CASE WHEN vy.token IS NULL THEN '<unk>' ELSE bg.y END AS w2
  FROM bg LEFT JOIN vocab vx ON vx.token = bg.x
          LEFT JOIN vocab vy ON vy.token = bg.y),
bi AS (SELECT w1, w2, count(*) AS c12 FROM mapped GROUP BY w1, w2)
SELECT bi.w1, bi.w2, bi.c12, uni.c AS c1
FROM bi JOIN uni ON uni.w = bi.w1
WHERE bi.c12 >= 3
"""


def q_gopher_quality(spark, sf_dir):
    """Gopher-rule quality screen (ext/text.py gopher_quality): per-doc
    metric battery + per-rule flags + keep, all exact-arithmetic. The
    DuckDB twin uses list ops where Spark uses codegen'd lookahead regex
    (RE2 has no lookahead)."""
    from datalakefoundation_spark.ext import text as TX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return TX.gopher_quality(docs, min_words=30)


SQL_GOPHER_QUALITY = """
WITH m AS (
  SELECT doc_id,
    len(string_split(text, ' ')) AS n_words,
    CAST(len(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      / len(string_split(text, ' ')) AS mean_word_len,
    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
      / len(string_split(text, ' ')) AS symbol_word_ratio,
    CAST(len(list_filter(string_split(text, ' '),
                         w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
      / len(string_split(text, ' ')) AS alpha_word_frac,
    CAST(len(list_filter(string_split(text, chr(10)),
                         l -> regexp_matches(l, '^[ \\t\\f\\r\\x0B]*[-*•]'))) AS DOUBLE)
      / len(string_split(text, chr(10))) AS bullet_line_frac,
    CAST(len(list_filter(string_split(text, chr(10)),
                         l -> regexp_matches(l, '\\.\\.\\.$'))) AS DOUBLE)
      / len(string_split(text, chr(10))) AS ellipsis_line_frac,
    1.0 - CAST(len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
      / len(string_split(text, chr(10))) AS dup_line_frac,
    CAST(list_contains(string_split(text, ' '), 'the') AS INT)
      + CAST(list_contains(string_split(text, ' '), 'be') AS INT)
      + CAST(list_contains(string_split(text, ' '), 'to') AS INT)
      + CAST(list_contains(string_split(text, ' '), 'of') AS INT)
      + CAST(list_contains(string_split(text, ' '), 'and') AS INT)
      + CAST(list_contains(string_split(text, ' '), 'that') AS INT)
      + CAST(list_contains(string_split(text, ' '), 'have') AS INT)
      + CAST(list_contains(string_split(text, ' '), 'with') AS INT)
      AS n_required_words
  FROM documents)
SELECT *,
  (n_words >= 30 AND n_words <= 100000) AS ok_word_count,
  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_word_len,
  (symbol_word_ratio <= 0.1) AS ok_symbols,
  (alpha_word_frac >= 0.8) AS ok_alpha,
  (bullet_line_frac <= 0.9) AS ok_bullets,
  (ellipsis_line_frac <= 0.3) AS ok_ellipsis,
  (dup_line_frac <= 0.3) AS ok_dup_lines,
  (n_required_words >= 2) AS ok_required_words,
  ((n_words >= 30 AND n_words <= 100000)
   AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
   AND (symbol_word_ratio <= 0.1) AND (alpha_word_frac >= 0.8)
   AND (bullet_line_frac <= 0.9) AND (ellipsis_line_frac <= 0.3)
   AND (dup_line_frac <= 0.3) AND (n_required_words >= 2)) AS keep
FROM m
"""


def q_trigram_lm(spark, sf_dir):
    """Trigram LM TRAINING counts (ext/lm.py train_trigram_lm) — the
    order-3 exact-integer tables, c123 >= 3, vocab_size=200 as in
    q_bigram_lm so the <unk> mapping is exercised."""
    from datalakefoundation_spark.ext import lm as LM

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _uni, _bi, tri = LM.train_trigram_lm(docs, vocab_size=200)
    return tri.where(F.col("c123") >= 3)


SQL_TRIGRAM_LM = """
WITH tok AS (
  SELECT t.token FROM documents, unnest(string_split(text, ' ')) AS t(token)),
raw_uni AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
vocab AS (SELECT token FROM raw_uni ORDER BY c DESC, token ASC LIMIT 200),
w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3),
tg AS (
  SELECT w[i] AS x, w[i + 1] AS y, w[i + 2] AS z
  FROM w, unnest(generate_series(1, len(w) - 2)) AS t(i)),
mapped AS (
  SELECT CASE WHEN vx.token IS NULL THEN '<unk>' ELSE tg.x END AS w1,
         CASE WHEN vy.token IS NULL THEN '<unk>' ELSE tg.y END AS w2,
         CASE WHEN vz.token IS NULL THEN '<unk>' ELSE tg.z END AS w3
  FROM tg LEFT JOIN vocab vx ON vx.token = tg.x
          LEFT JOIN vocab vy ON vy.token = tg.y
          LEFT JOIN vocab vz ON vz.token = tg.z)
SELECT w1, w2, w3, count(*) AS c123
FROM mapped GROUP BY w1, w2, w3 HAVING count(*) >= 3
"""


def q_hashed_features(spark, sf_dir):
    """Feature-hashed document vectors in long form
    (ext/similarity.hashed_feature_entries): token -> sha-bucket % 64 with
    ±1 sign, exact signed counts — the text→vector bridge that makes the
    ANN family run on raw documents with no embedding model."""
    from datalakefoundation_spark.ext import similarity as SIM

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return SIM.hashed_feature_entries(docs, dim=64)


SQL_HASHED_FEATURES = """
WITH tok AS (
  SELECT doc_id, t.token FROM documents, unnest(string_split(text, ' ')) AS t(token)),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
h AS (
  SELECT doc_id,
    ('0x' || substr(sha256(token), 1, 6))::BIGINT % 64 AS bucket,
    (1 - 2 * (('0x' || substr(sha256(token), 7, 1))::BIGINT % 2)) * tf AS w
  FROM tf)
SELECT doc_id, bucket, CAST(sum(w) AS BIGINT) AS weight
FROM h GROUP BY doc_id, bucket
"""


def q_hashed_features_ngram(spark, sf_dir):
    """Bigram-shingle feature hashing (ngram=2) — the near-dup-grade text
    bridge: unigram counts on a Zipfian vocabulary are dominated by the
    shared head tokens (unrelated docs sit at cosine ~0.85+); n-gram
    shingles flatten the distribution so cosine carries similarity
    signal (ext/similarity.hashed_feature_entries ngram knob, shingle
    windows shared with the MinHash path)."""
    from datalakefoundation_spark.ext import similarity as SIM

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return SIM.hashed_feature_entries(docs, dim=64, ngram=2)


SQL_HASHED_FEATURES_NGRAM = """
WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
iw AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i FROM w0),
tok AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 1), ' ') AS token FROM iw),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
h AS (
  SELECT doc_id,
    ('0x' || substr(sha256(token), 1, 6))::BIGINT % 64 AS bucket,
    (1 - 2 * (('0x' || substr(sha256(token), 7, 1))::BIGINT % 2)) * tf AS w
  FROM tf)
SELECT doc_id, bucket, CAST(sum(w) AS BIGINT) AS weight
FROM h GROUP BY doc_id, bucket
"""


def q_text_near_dup(spark, sf_dir):
    """Text near-duplicate pairs straight from raw documents: feature-hash
    to sparse integer vectors, then the relational sparse-cosine join
    (integer sums are exact in double → bit-portable, unlike
    float-embedding cosine). Low threshold so the fixture yields pairs."""
    from datalakefoundation_spark.ext import similarity as SIM

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    entries = SIM.hashed_feature_entries(docs, dim=64)
    return SIM.sparse_cosine_pairs(entries, threshold=0.9)


SQL_TEXT_NEAR_DUP = """
WITH tok AS (
  SELECT doc_id, t.token FROM documents, unnest(string_split(text, ' ')) AS t(token)),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
e AS (
  SELECT doc_id,
    ('0x' || substr(sha256(token), 1, 6))::BIGINT % 64 AS bucket,
    CAST(sum((1 - 2 * (('0x' || substr(sha256(token), 7, 1))::BIGINT % 2)) * tf)
         AS DOUBLE) AS w
  FROM tf GROUP BY doc_id, bucket),
norms AS (SELECT doc_id, sqrt(sum(w * w)) AS n FROM e GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY id_a, id_b)
SELECT id_a, id_b, dot / (na.n * nb.n) AS cosine
FROM dots JOIN norms na ON na.doc_id = id_a JOIN norms nb ON nb.doc_id = id_b
WHERE na.n > 0 AND nb.n > 0 AND dot / (na.n * nb.n) >= 0.9
"""


def q_retention_cohorts(spark, sf_dir):
    """Retention cohort triangle (ext/rollup.py retention_cohorts): users
    grouped by first-activity day, distinct-active counted per later day
    period — all exact integers."""
    from datalakefoundation_spark.ext import rollup as RU
    from datalakefoundation_spark.verification.core_queries import read_events

    ev = read_events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    return RU.retention_cohorts(ev)


SQL_RETENTION_COHORTS = """
WITH e AS (
  SELECT user_id, epoch_us(ts) // 86400000000 * 86400000000 AS b FROM events),
first AS (SELECT user_id, min(b) AS cohort_start_us FROM e GROUP BY user_id),
active AS (SELECT DISTINCT user_id, b FROM e)
SELECT f.cohort_start_us,
       (a.b - f.cohort_start_us) // 86400000000 AS period,
       count(*) AS n_active
FROM active a JOIN first f USING (user_id)
GROUP BY f.cohort_start_us, period
"""


def q_rollup_anomalies(spark, sf_dir):
    """Z-scores vs the trailing 24 OBSERVED hourly buckets per event_type
    (ext/rollup.py anomaly_scores; gapfill first when silence should
    count as zero) — variance from exact decimal Σ/Σ² (engine stddev
    implementations differ in summation order; the closed-form does
    not)."""
    from datalakefoundation_spark.ext import rollup as RU
    from datalakefoundation_spark.verification.core_queries import read_events

    ev = read_events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    level = RU.rollup_cascade(ev, resolutions_us=(RU.HOUR_US,))[RU.HOUR_US]
    return RU.anomaly_scores(level)


SQL_ROLLUP_ANOMALIES = """
WITH level AS (
  SELECT epoch_us(ts) // 3600000000 * 3600000000 AS b, event_type,
         count(*) AS n_events
  FROM events GROUP BY b, event_type),
win AS (
  SELECT b, event_type, n_events,
    count(CAST(n_events AS DECIMAL(18,4))) OVER w AS n,
    sum(CAST(n_events AS DECIMAL(18,4))) OVER w AS s1,
    sum(CAST(n_events AS DECIMAL(18,4)) * CAST(n_events AS DECIMAL(18,4))) OVER w AS s2
  FROM level
  WINDOW w AS (PARTITION BY event_type ORDER BY b
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
SELECT b AS bucket_start_us, event_type, n_events AS value,
  CASE WHEN n >= 6 THEN CAST(s1 AS DOUBLE) / n END AS trailing_mean,
  CASE WHEN n >= 6 AND sqrt(greatest(
         CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
         0.0)) > 0
       THEN (CAST(n_events AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
            / sqrt(greatest(
                CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                0.0))
  END AS z
FROM win
"""


def q_knn_topk(spark, sf_dir):
    # r11: the matmul-blocked twin of brute_force_topk — row-identical by
    # contract (same IEEE fold order, same tie rules; pinned in
    # tests/test_ann_blocked.py and re-proven against this oracle), but the
    # corpus is never shuffled and never crosses the Python boundary as
    # |queries| x |corpus| pair rows: one mapInPandas scan emits per-batch
    # top-k partials (~20M pair rows x 128 doubles of Arrow traffic removed
    # at sf0.1). The per-pair form remains the verification baseline in
    # similarity.brute_force_topk.
    embs = _embs(spark, sf_dir)
    return SIM.brute_force_topk_blocked(embs, k=5, query_stride=50)


SQL_KNN_TOPK = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM v WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_dot_product(q.v, b.v) /
           (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
  FROM q JOIN v b ON b.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_ann_lsh(spark, sf_dir):
    return SIM.lsh_topk(_embs(spark, sf_dir), k=3)


def q_ann_ivf(spark, sf_dir):
    return SIM.ivf_topk(_embs(spark, sf_dir), k=3)


SQL_ANN_IVF = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cluster_id, v AS cv FROM v WHERE vec_id % 37 = 0),
probe AS (
  SELECT vec_id, v, cluster_id, rn FROM (
    SELECT v.vec_id, v.v, cent.cluster_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.v, cent.cv) /
                      (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(cent.cv, cent.cv))) DESC,
                      cent.cluster_id ASC) AS rn
    FROM v CROSS JOIN cent
  ) WHERE rn <= 2
),
assigned AS (SELECT vec_id, v, cluster_id FROM probe WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv, cluster_id FROM probe WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.qv, c.v) /
           (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
  FROM assigned c JOIN q ON c.cluster_id = q.cluster_id AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


def _ann_lsh_oracle_sql(bands: int = 4, planes_per_band: int = 8) -> str:
    """Banded-LSH twin generated from the same hyperplane constants as
    similarity.lsh_band_keys (bands x 2^planes_per_band keyspace).
    ``list_dot_product`` is the same sequential fold as the Spark side's
    ``aggregate(zip_with(...))`` (bit-identical, same as cosine_similarity),
    so the sign of near-zero dots agrees across engines."""
    planes = SIM.hyperplane_signs(bands * planes_per_band, 64)
    bucket_chars = ", ".join(
        f"CASE WHEN list_dot_product(v, {plane!r}) >= 0 THEN '1' ELSE '0' END"
        for plane in planes
    )
    band_rows = "\nUNION ALL ".join(
        f"SELECT vec_id, concat('{b}', '|', substring(sig, {b * planes_per_band + 1}, "
        f"{planes_per_band})) AS bk FROM vb"
        for b in range(bands)
    )
    return f"""
WITH v0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
vb AS (SELECT vec_id, v, concat({bucket_chars}) AS sig FROM v0),
bandk AS ({band_rows}),
pairs AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM bandk a JOIN bandk b ON a.bk = b.bk AND b.vec_id <> a.vec_id
),
scored AS (
  SELECT p.query_id, p.neighbor_id,
         list_dot_product(q.v, c.v) /
           (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cosine
  FROM pairs p JOIN v0 q ON q.vec_id = p.query_id JOIN v0 c ON c.vec_id = p.neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


# ---------------------------------------------------------------- skew
def q_salted_agg(spark, sf_dir):
    """Skew-proof two-stage aggregation over lineitem's 3-value (maximally
    hot) l_returnflag key — identical rows to the plain groupBy."""
    from datalakefoundation_spark.ext.skew import salted_agg

    df = read_table(spark, sf_dir, "lineitem")
    return salted_agg(
        df,
        ["l_returnflag"],
        {
            "n_rows": ("count", "l_returnflag"),
            "sum_qty": ("sum", "l_quantity"),
            "min_orderkey": ("min", "l_orderkey"),
            "max_orderkey": ("max", "l_orderkey"),
        },
    )


SQL_SALTED_AGG = """
SELECT l_returnflag, count(*) AS n_rows, sum(l_quantity) AS sum_qty,
       min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------- clusters
def q_dedup_clusters(spark, sf_dir):
    """Connected components over the MinHash candidate pairs: every clustered
    doc gets the min doc id of its component as cluster_id. Large-star/
    small-star rounds in Spark; the DuckDB twin is a recursive CTE
    computing min reachable id — both are exact component labelings, so the
    fixpoint is engine-independent."""
    from datalakefoundation_spark.ext.cluster import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir))


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SHINGLE_CTE.strip().removeprefix("WITH ")},
sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (SELECT doc_a AS u, doc_b AS v FROM cand UNION SELECT doc_b, doc_a FROM cand),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v
)
SELECT u AS doc_id, min(r) AS cluster_id, min(r) = u AS is_survivor
FROM reach GROUP BY u
"""


# ---------------------------------------------------------------- packing
def q_pack_sequences(spark, sf_dir):
    from datalakefoundation_spark.ext.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), shard_col="source", ctx_len=512)


SQL_PACK_SEQUENCES = """
WITH n AS (
  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
o AS (
  SELECT doc_id, source, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
  FROM n
)
SELECT doc_id, source, n_tokens, start_offset,
       CAST(floor(start_offset / 512) AS BIGINT) AS pack_id,
       CAST(floor((start_offset + greatest(n_tokens, 1) - 1) / 512)
            - floor(start_offset / 512) + 1 AS BIGINT) AS packs_spanned
FROM o
"""


# ---------------------------------------------------------------- repetition
def q_repetition_stats(spark, sf_dir):
    return TX.repetition_stats(_docs(spark, sf_dir))


SQL_REPETITION_STATS = """
WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
base AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct, w
  FROM w0
),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) >= 2
                     THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
                     ELSE [] END) AS bg
  FROM base
),
bgc AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg),
agg AS (
  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_bigram_n,
         CAST(sum(cnt) AS BIGINT) AS n_bigrams
  FROM bgc GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       1.0 - b.n_distinct / b.n_tokens AS dup_token_ratio,
       COALESCE(a.top_bigram_n, 0) AS top_bigram_n,
       COALESCE(a.n_bigrams, 0) AS n_bigrams,
       COALESCE(a.top_bigram_n / a.n_bigrams, 0.0) AS top_bigram_share
FROM base b LEFT JOIN agg a ON a.doc_id = b.doc_id
"""


# ---------------------------------------------------------------- novelty
def q_novelty(spark, sf_dir):
    return D.novelty_stats(_docs(spark, sf_dir))


SQL_NOVELTY = f"""{_SHINGLE_CTE},
ds AS (SELECT DISTINCT doc_id, s FROM sh),
first AS (SELECT s, min(doc_id) AS first_doc FROM ds GROUP BY s)
SELECT ds.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN first.first_doc < ds.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_seen_before,
       1.0 - sum(CASE WHEN first.first_doc < ds.doc_id THEN 1 ELSE 0 END)
             / count(*) AS novelty_ratio
FROM ds JOIN first ON first.s = ds.s
GROUP BY ds.doc_id
"""


# ---------------------------------------------------------------- decontamination
def q_decontaminate(spark, sf_dir):
    """Corpus docs sharing any distinct 5-gram with the 'benchmark' holdout
    (source = src0 stands in for an eval suite)."""
    docs = _docs(spark, sf_dir)
    return D.decontamination(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        shingle_size=5,
    )



def q_decontaminate_bloom(spark, sf_dir):
    """Two-phase Bloom-screened decontamination (ext/dedup.py
    decontamination_bloom): phase 1 probes a 2^20-bit filter of the
    benchmark's distinct 5-grams (fixed 128 KiB broadcast instead of the
    raw shingle set), phase 2 exact-verifies only the flagged docs — so
    the result equals plain decontamination EXACTLY and shares its
    oracle."""
    docs = _docs(spark, sf_dir)
    return D.decontamination_bloom(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        shingle_size=5,
    )


SQL_DECONTAMINATE = """
WITH w0 AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
iw AS (SELECT doc_id, source, w,
              unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i FROM w0),
sh AS (SELECT doc_id, source, array_to_string(list_slice(w, i, i + 4), ' ') AS s FROM iw),
c AS (SELECT DISTINCT doc_id, s FROM sh WHERE source <> 'src0'),
b AS (SELECT DISTINCT s FROM sh WHERE source = 'src0')
SELECT c.doc_id, count(*) AS n_shared
FROM c JOIN b ON b.s = c.s
GROUP BY c.doc_id
"""


# ---------------------------------------------------------------- multimodal
def q_multimodal_features(spark, sf_dir):
    """Arrow-batched binary-column feature extraction (mapInPandas plumbing;
    deterministic fake decoder — codecs unavailable). The byte-level outputs
    (payload size, content sha) ARE oracle-expressible because the fixture
    payload is the utf-8 encoding of the text column, so the DuckDB twin
    verifies that the binary column round-trips through Arrow batches and
    Python bytes unchanged."""
    from datalakefoundation_spark.ext import multimodal as MM

    media = MM.from_text_fixture(_docs(spark, sf_dir))
    return MM.extract_features(media).select(
        "media_id", "media_type", "n_bytes", "content_sha"
    )


SQL_MULTIMODAL_FEATURES = """
SELECT doc_id AS media_id, 'image' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS content_sha
FROM documents
"""


# ---------------------------------------------------------------- quality filter / sampling / vocab
def q_quality_filter(spark, sf_dir):
    df = TX.quality_filter(_docs(spark, sf_dir), min_tokens=20, min_distinct_ratio=0.12)
    return df.select("doc_id", "keep", "reject_reason")


SQL_QUALITY_FILTER = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
r AS (
  SELECT doc_id,
         CASE WHEN len(w) < 20 THEN 'too_short'
              WHEN len(w) > 100000 THEN 'too_long'
              WHEN len(list_distinct(w)) / len(w) < 0.12 THEN 'repetitive'
              WHEN len(list_filter(w, t -> list_contains([{_SW}], t))) / len(w) > 0.9
                   THEN 'stopword_heavy'
         END AS reject_reason
  FROM w
)
SELECT doc_id, reject_reason, reject_reason IS NULL AS keep FROM r
"""


def q_stratified_sample(spark, sf_dir):
    from datalakefoundation_spark.ext import sampling as SA

    df = SA.stratified_sample(
        _docs(spark, sf_dir),
        key_col="doc_id",
        strata_col="source",
        rates={"src0": 0.5, "src1": 0.25},
        default_rate=0.1,
    )
    return df.select("doc_id", "source")


def _stratified_oracle_sql() -> str:
    from datalakefoundation_spark.ext import sampling as SA

    t0, t1, td = (
        SA.hash_threshold(0.5),
        SA.hash_threshold(0.25),
        SA.hash_threshold(0.1),
    )
    return f"""
SELECT doc_id, source FROM documents
WHERE substring(sha256(CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE source WHEN 'src0' THEN '{t0}' WHEN 'src1' THEN '{t1}' ELSE '{td}' END
"""


def q_vocab_topk(spark, sf_dir):
    return TX.vocab_topk(_docs(spark, sf_dir), k=50)


SQL_VOCAB_TOPK = """
SELECT t.token AS token, count(*) AS n
FROM documents, unnest(string_split(text, ' ')) AS t(token)
GROUP BY t.token
ORDER BY n DESC, token ASC
LIMIT 50
"""


# ---------------------------------------------------------------- as-of join
def q_asof_join(spark, sf_dir):
    """Backward as-of join (ext/joins.py): each 'view' event gets the most
    recent same-user 'click' at-or-before its timestamp. The right side is
    pre-aggregated to one row per (user, ts) (arg-max by event id) so the
    as-of match is deterministic across engines."""
    from datalakefoundation_spark.ext.joins import asof_join
    from datalakefoundation_spark.verification.core_queries import read_events

    ev = read_events(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts_us")
        .agg(F.max_by("value", "event_id").alias("click_value"))
    )
    return asof_join(
        views, clicks, on="user_id", left_ts="ts_us",
        matched_ts_col="click_ts_us",
    )


SQL_ASOF_JOIN = """
WITH ev AS (
  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value FROM events
),
clicks AS (
  SELECT user_id, ts_us, arg_max(value, event_id) AS click_value
  FROM ev WHERE event_type = 'click' GROUP BY user_id, ts_us
),
views AS (
  SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'view'
)
SELECT v.event_id, v.user_id, v.ts_us, c.ts_us AS click_ts_us, c.click_value
FROM views v ASOF LEFT JOIN clicks c
  ON v.user_id = c.user_id AND v.ts_us >= c.ts_us
"""


def q_interval_join(spark, sf_dir):
    """Keyed interval join (ext/joins.py): events falling inside each
    user's first and last 30-minute activity window. Granule-bucketed
    equi-join — no nested-loop range join."""
    from datalakefoundation_spark.ext.joins import interval_join
    from datalakefoundation_spark.verification.core_queries import read_events

    HALF_HOUR_US = 1_800_000_000
    ev = (
        read_events(spark, sf_dir)
        .withColumn("ts_us", F.expr("ts_ns div 1000"))
        .select("event_id", "user_id", "ts_us")
    )
    bounds = ev.groupBy("user_id").agg(
        F.min("ts_us").alias("mn"), F.max("ts_us").alias("mx")
    )
    iv = bounds.selectExpr(
        "user_id", "1 AS iv_id", "mn AS iv_start_us",
        f"mn + {HALF_HOUR_US} AS iv_end_us",
    ).unionByName(
        bounds.selectExpr(
            "user_id", "2 AS iv_id", f"mx - {HALF_HOUR_US} AS iv_start_us",
            "mx AS iv_end_us",
        )
    )
    return interval_join(
        ev, iv, point_ts="ts_us", start_ts="iv_start_us", end_ts="iv_end_us",
        on="user_id", granule=HALF_HOUR_US,
    ).select("event_id", "user_id", "ts_us", "iv_id", "iv_start_us", "iv_end_us")


SQL_INTERVAL_JOIN = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
),
bounds AS (
  SELECT user_id, min(ts_us) AS mn, max(ts_us) AS mx FROM ev GROUP BY user_id
),
iv AS (
  SELECT user_id, 1 AS iv_id, mn AS iv_start_us, mn + 1800000000 AS iv_end_us FROM bounds
  UNION ALL
  SELECT user_id, 2 AS iv_id, mx - 1800000000 AS iv_start_us, mx AS iv_end_us FROM bounds
)
SELECT e.event_id, e.user_id, e.ts_us, iv.iv_id, iv.iv_start_us, iv.iv_end_us
FROM ev e JOIN iv
  ON e.user_id = iv.user_id
 AND e.ts_us BETWEEN iv.iv_start_us AND iv.iv_end_us
"""


def q_grouped_topk(spark, sf_dir):
    """Two-stage grouped top-k (ext/topk.py): top-3 orders per priority by
    (totalprice, orderkey) descending — map-side partial reduction, only
    partitions*k rows per group shuffle."""
    from datalakefoundation_spark.ext.topk import grouped_topk

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    return grouped_topk(
        orders, "o_orderpriority", "o_totalprice", 3,
        tiebreak=["o_orderkey"], payload=[],
    )


SQL_GROUPED_TOPK = """
SELECT o_orderpriority, o_totalprice, o_orderkey, rank FROM (
  SELECT o_orderpriority, o_totalprice, o_orderkey,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY o_totalprice DESC, o_orderkey DESC
         ) AS rank
  FROM orders
) WHERE rank <= 3
"""


# Oracle-paired but outside the driver's 50-row window (see
# verification.extra_queries).
def q_tfidf_terms(spark, sf_dir):
    """Top-3 characteristic terms per document (ext/text.py
    tfidf_top_terms, linear-IDF variant: the tf/df ordering is one IEEE
    division — bit-reproducible across engines, unlike ln)."""
    from datalakefoundation_spark.ext.text import tfidf_top_terms

    docs = read_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3, idf="linear")


SQL_TFIDF_TERMS = """
WITH tf AS (
  SELECT doc_id, t.token AS token, count(*) AS tf
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
  GROUP BY doc_id, t.token
),
dfreq AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
)
SELECT doc_id, token, tf, df, rank FROM (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY CAST(tf.tf AS DOUBLE) / dfreq.df DESC, tf.token ASC
         ) AS rank
  FROM tf JOIN dfreq USING (token)
) WHERE rank <= 3
"""


def q_pii_scrub(spark, sf_dir):
    """PII detect + redact (ext/pii.py). The fixture text is synthetic word
    soup with no natural PII, so the query first APPENDS deterministic
    doc_id-derived PII (an email, an IPv4, an account-number digit run, a
    phone) with the identical string expression on both engines — the
    oracle then proves the whole regex pipeline (counts on raw text +
    ordered global redaction) is bit-identical between Java regex and
    RE2."""
    from datalakefoundation_spark.ext import pii as PII

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat_ws(
            " ",
            F.col("text"),
            F.concat(F.lit("u"), F.col("doc_id").cast("string"), F.lit("@example.com")),
            F.concat(
                F.lit("10.0."),
                F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
                F.lit(".25"),
            ),
            F.concat(
                F.lit("4111"),
                F.lpad(F.pmod(F.col("doc_id"), F.lit(100000)).cast("string"), 5, "0"),
            ),
            F.concat(
                F.lit("+1 555 "),
                F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
            ),
        ),
    )
    return PII.pii_scrub(docs).select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "n_digit_run", "redacted"
    )


def _pii_oracle_sql() -> str:
    from datalakefoundation_spark.ext import pii as PII

    pats = {name: pat for name, pat, _ in PII.PATTERNS}
    redact = "text"
    for _, pat, token in PII.PATTERNS:
        redact = f"regexp_replace({redact}, '{pat}', '{token}', 'g')"
    counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat in pats.items()
    )
    return f"""
WITH enriched AS (
  SELECT doc_id,
         text || ' u' || CAST(doc_id AS VARCHAR) || '@example.com'
              || ' 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.25'
              || ' 4111' || lpad(CAST(doc_id % 100000 AS VARCHAR), 5, '0')
              || ' +1 555 ' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           AS text
  FROM documents
)
SELECT doc_id,
       {counts},
       {redact} AS redacted
FROM enriched
"""


def q_decontaminate_frac(spark, sf_dir):
    """Fuzzy decontamination (ext/dedup.py decontamination_fraction): every
    corpus doc scored by the share of its distinct 5-grams found in the
    src0 'benchmark' — clean docs included at 0.0."""
    docs = _docs(spark, sf_dir)
    return D.decontamination_fraction(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
        shingle_size=5,
    )


SQL_DECONTAMINATE_FRAC = """
WITH w0 AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
iw AS (SELECT doc_id, source, w,
              unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i FROM w0),
sh AS (SELECT doc_id, source, array_to_string(list_slice(w, i, i + 4), ' ') AS s FROM iw),
c AS (SELECT DISTINCT doc_id, s FROM sh WHERE source <> 'src0'),
b AS (SELECT DISTINCT s FROM sh WHERE source = 'src0')
SELECT c.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) / count(*) AS contaminated_frac
FROM c LEFT JOIN b ON b.s = c.s
GROUP BY c.doc_id
"""


def q_mixture_sample(spark, sf_dir):
    """Training-mixture construction (ext/sampling.py mixture_sample):
    sample src2/src3/src4 to 4:2:1 proportions, keeping the scarcest-
    relative stratum whole. The oracle recomputes the data-derived keep
    rates AND the hex thresholds entirely in SQL — the IEEE arithmetic and
    truncation are replicated op-for-op, so the sampled id sets must match
    exactly."""
    from datalakefoundation_spark.ext import sampling as SA

    return SA.mixture_sample(
        _docs(spark, sf_dir),
        key_col="doc_id",
        strata_col="source",
        weights={"src2": 0.5, "src3": 0.25, "src4": 0.125},
    ).select("doc_id", "source")


# Weight CASE shared by count->rate->threshold steps; weights are chosen
# exactly representable in binary so the literal parse is unambiguous.
_MIX_W = (
    "CASE source WHEN 'src2' THEN CAST(0.5 AS DOUBLE) "
    "WHEN 'src3' THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.125 AS DOUBLE) END"
)

SQL_MIXTURE_SAMPLE = f"""
WITH cnt AS (
  SELECT source, count(*) AS n FROM documents
  WHERE source IN ('src2', 'src3', 'src4') GROUP BY source
),
t AS (SELECT min(CAST(n AS DOUBLE) / {_MIX_W}) AS total FROM cnt),
thr AS (
  SELECT source,
         CASE WHEN CAST(trunc({_MIX_W} * t.total / n * 4294967296.0) AS BIGINT)
                   >= 4294967296
              THEN 'g'  -- rate 1.0: above every hex prefix, keeps ALL rows
              ELSE lpad(lower(to_hex(
                     CAST(trunc({_MIX_W} * t.total / n * 4294967296.0) AS BIGINT)
                   )), 8, '0')
         END AS thr
  FROM cnt, t
)
SELECT d.doc_id, d.source
FROM documents d JOIN thr ON thr.source = d.source
WHERE substring(sha256(CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr
"""


def q_rare_tokens(spark, sf_dir):
    """Rare-token fraction per document (ext/text.py rare_token_stats,
    max_df=50 — the fixture's 'dup' token has df 25, every other token
    df >= ~370, so the signal separates the planted near-duplicate docs)."""
    return TX.rare_token_stats(_docs(spark, sf_dir), max_df=50)


SQL_RARE_TOKENS = """
WITH tf AS (
  SELECT doc_id, t.token AS token, count(*) AS tf
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
  GROUP BY doc_id, t.token
),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
SELECT tf.doc_id,
       CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN dfreq.df <= 50 THEN tf.tf ELSE 0 END) AS BIGINT) AS n_rare,
       sum(CASE WHEN dfreq.df <= 50 THEN tf.tf ELSE 0 END) / sum(tf.tf) AS rare_ratio
FROM tf JOIN dfreq USING (token)
GROUP BY tf.doc_id
"""


def q_collocations(spark, sf_dir):
    """Top collocations by PMI-lift ordering (ext/text.py collocations —
    N*df_pair/(df_x*df_y), the log-free monotone form, one integer-product
    ratio so the ranking is bit-reproducible across engines)."""
    return TX.collocations(_docs(spark, sf_dir), k=30, min_pair_docs=5)


SQL_COLLOCATIONS = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2
),
bi AS (
  SELECT DISTINCT doc_id, w[i] AS x, w[i + 1] AS y
  FROM w, unnest(generate_series(1, len(w) - 1)) AS t(i)
),
pair AS (
  SELECT x, y, count(*) AS pair_df FROM bi GROUP BY x, y HAVING count(*) >= 5
),
uni AS (
  SELECT t, count(*) AS df FROM (
    SELECT DISTINCT doc_id, u.t AS t
    FROM documents, unnest(string_split(text, ' ')) AS u(t)
  ) GROUP BY t
),
n AS (SELECT count(DISTINCT doc_id) AS N FROM documents)
SELECT pair.x, pair.y, pair.pair_df, ux.df AS df_x, uy.df AS df_y,
       CAST(n.N * pair.pair_df AS DOUBLE) / (ux.df * uy.df) AS lift
FROM pair
JOIN uni ux ON ux.t = pair.x
JOIN uni uy ON uy.t = pair.y
CROSS JOIN n
ORDER BY lift DESC, x ASC, y ASC
LIMIT 30
"""


# ------------------------------------------------------- incremental minhash
def q_dedup_minhash_incr(spark, sf_dir):
    """Incremental near-dup index maintenance (ext/dedup.py
    incremental_lsh_candidates): the corpus arrives as two batches (even
    doc_ids, then odd); batch 2 pays only its own signatures + one band
    join against the stored index. The union of per-batch candidate pairs
    must equal the from-scratch batch run — so the oracle is the SAME SQL
    as q_dedup_minhash."""
    docs = _docs(spark, sf_dir)
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    s1 = D.minhash_signature(b1)
    s2 = D.minhash_signature(b2)
    batch1_pairs = D.lsh_candidate_pairs(s1)
    delta_pairs = D.incremental_lsh_candidates(s1, s2)
    return batch1_pairs.unionByName(delta_pairs).distinct()


# ---------------------------------------------------------------- span dedup
def q_span_dedup(spark, sf_dir):
    """Substring-level dedup rewriter (ext/dedup.py span_dedup): tokens
    covered by a 5-token span already owned by an earlier document are
    deleted; the surviving text is re-joined in order."""
    return D.span_dedup(_docs(spark, sf_dir), span_size=5)


SQL_SPAN_DEDUP = """
WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sp AS (
  SELECT doc_id, len(w) AS dlen, w,
         unnest(generate_series(1, greatest(len(w) - 4, 1))) AS start
  FROM w0
),
spans AS (
  SELECT doc_id, dlen, start,
         array_to_string(list_slice(w, start, start + 4), ' ') AS s
  FROM sp
),
owner AS (SELECT s, min(doc_id) AS own FROM spans GROUP BY s),
cov AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT spans.doc_id,
           unnest(generate_series(start, least(start + 4, dlen))) AS pos
    FROM spans JOIN owner USING (s)
    WHERE owner.own < spans.doc_id
  )
),
tok AS (
  SELECT doc_id, pos, w[pos] AS t FROM (
    SELECT doc_id, w, unnest(generate_series(1, len(w))) AS pos FROM w0
  )
),
kept AS (
  SELECT t.doc_id, string_agg(t.t, ' ' ORDER BY t.pos) AS clean_text
  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.doc_id IS NULL
  GROUP BY t.doc_id
),
rem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
SELECT w0.doc_id,
       coalesce(kept.clean_text, '') AS clean_text,
       len(w0.w) AS n_tokens,
       coalesce(rem.n_removed, 0) AS n_removed
FROM w0
LEFT JOIN kept USING (doc_id)
LEFT JOIN rem USING (doc_id)
"""


# ---------------------------------------------------------------- profiling
def q_profile_columns(spark, sf_dir):
    """Deequ-style column profile of the orders table (ext/profile.py).
    exact=True so the distinct counts are oracle-comparable; production
    default is the HLL sketch. Columns chosen with engine-stable string
    renderings (ints + strings; no doubles/dates whose formatting differs)."""
    from datalakefoundation_spark.ext.profile import profile_columns

    orders = read_table(spark, sf_dir, "orders")
    return profile_columns(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        exact=True,
    )


def _profile_oracle_sql() -> str:
    parts = []
    for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]:
        parts.append(
            f"""SELECT '{c}' AS col_name,
       count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       CAST(count({c}) AS DOUBLE) / count(*) AS completeness,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM orders"""
        )
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------- reshard
def q_reshard_shuffle(spark, sf_dir):
    """Deterministic global shuffle into 8 training shards
    (ext/sampling.py reshard_shuffle): shard + within-shard position are
    pure functions of sha256(seed|doc_id) — stable across partitionings,
    retries, and engines."""
    from datalakefoundation_spark.ext.sampling import reshard_shuffle

    return reshard_shuffle(_docs(spark, sf_dir), "doc_id", 8, seed="r4").select(
        "doc_id", "shard", "shard_pos"
    )


_NIB = "(instr('0123456789abcdef', substring(h, {i}, 1)) - 1)"
SQL_RESHARD_SHUFFLE = f"""
WITH h AS (
  SELECT doc_id,
         sha256('r4' || '|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
s AS (
  SELECT doc_id, h,
         ({_NIB.format(i=1)} * 4096 + {_NIB.format(i=2)} * 256
          + {_NIB.format(i=3)} * 16 + {_NIB.format(i=4)}) % 8 AS shard
  FROM h
)
SELECT doc_id,
       CAST(shard AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INTEGER)
         AS shard_pos
FROM s
"""


def q_check_expectations(spark, sf_dir):
    """Declarative data-quality suite over orders (ext/profile.py
    check_expectations): every check folds into one aggregate pass; the
    oracle recomputes each (expected, observed, passed) row in SQL."""
    from datalakefoundation_spark.ext.profile import check_expectations

    orders = read_table(spark, sf_dir, "orders")
    return check_expectations(
        orders,
        {
            "o_orderkey": {"completeness": 1.0, "unique": True, "min": 0},
            "o_orderstatus": {"isin": ["O", "F", "P"]},
            "o_orderpriority": {"matches": "^[1-5]-[A-Z]+$"},
        },
    )


SQL_CHECK_EXPECTATIONS = """
WITH m AS (
  SELECT count(*) AS n,
         count(o_orderkey) AS nn_k,
         count(o_orderkey) - count(DISTINCT o_orderkey) AS dup_k,
         min(o_orderkey) AS mn_k,
         sum(CASE WHEN o_orderstatus IS NOT NULL
                   AND o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)
           AS bad_status,
         sum(CASE WHEN o_orderpriority IS NOT NULL
                   AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z]+$')
                  THEN 1 ELSE 0 END) AS bad_prio
  FROM orders
)
SELECT 'o_orderkey' AS col_name, 'completeness' AS check, '1.0' AS expected,
       CAST(CAST(nn_k AS DOUBLE) / n AS VARCHAR) AS observed,
       CAST(nn_k AS DOUBLE) / n >= 1.0 AS passed FROM m
UNION ALL
SELECT 'o_orderkey', 'min', '0', CAST(mn_k AS VARCHAR), mn_k >= 0 FROM m
UNION ALL
SELECT 'o_orderkey', 'unique', 'True', 'duplicates=' || CAST(dup_k AS VARCHAR),
       dup_k = 0 FROM m
UNION ALL
SELECT 'o_orderstatus', 'isin', '[''O'', ''F'', ''P'']',
       'violations=' || CAST(bad_status AS VARCHAR), bad_status = 0 FROM m
UNION ALL
SELECT 'o_orderpriority', 'matches', '^[1-5]-[A-Z]+$',
       'violations=' || CAST(bad_prio AS VARCHAR), bad_prio = 0 FROM m
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (ext/similarity.py semantic_dedup):
    IVF-cell clustering (deterministic stride centroids — the oracle's CTE
    is the q_ann_ivf assignment), within-cell cosine vs every lower-id
    cluster-mate, kept=false for semantic duplicates. Cosine is the
    bit-exact sequential fold, so the threshold decision matches DuckDB's
    ``list_dot_product`` exactly."""
    return SIM.semantic_dedup(_embs(spark, sf_dir), threshold=0.45)


SQL_SEMANTIC_DEDUP = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cluster_id, v AS cv FROM v WHERE vec_id % 37 = 0),
assigned AS (
  SELECT vec_id, v, cluster_id FROM (
    SELECT v.vec_id, v.v, cent.cluster_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.v, cent.cv) /
                      (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(cent.cv, cent.cv))) DESC,
                      cent.cluster_id ASC) AS rn
    FROM v CROSS JOIN cent
  ) WHERE rn = 1
)
SELECT a.vec_id, a.cluster_id,
       NOT EXISTS (
         SELECT 1 FROM assigned b
         WHERE b.cluster_id = a.cluster_id AND b.vec_id < a.vec_id
           AND {_COS} >= 0.45
       ) AS kept
FROM assigned a
"""


def q_importance_resample(spark, sf_dir):
    """DSIR-style hashed-bigram importance scoring (ext/sampling.py
    importance_score): target subset = English documents; every score term
    is exact int64 arithmetic (the linearized likelihood-ratio), so the
    per-doc sums are order-independent and hash-identical across engines."""
    from datalakefoundation_spark.ext.sampling import importance_score

    return importance_score(_docs(spark, sf_dir), F.col("lang") == "en")


SQL_IMPORTANCE_RESAMPLE = """
WITH w0 AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
bg AS (
  SELECT doc_id, lang,
         unnest(CASE WHEN len(w) >= 2
                     THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])
                     ELSE [] END) AS bg
  FROM w0
),
occ AS (
  SELECT doc_id, substring(sha256(bg), 1, 2) AS b,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t
  FROM bg
),
bt AS (SELECT b, count(*) AS r_b, sum(is_t) AS t_b FROM occ GROUP BY b),
tot AS (SELECT CAST(sum(r_b) AS BIGINT) AS r_tot, CAST(sum(t_b) AS BIGINT) AS t_tot FROM bt),
sc AS (SELECT b, CAST(t_b * r_tot - r_b * t_tot AS BIGINT) AS s FROM bt, tot),
dc AS (SELECT doc_id, b, count(*) AS c FROM occ GROUP BY doc_id, b),
ds AS (
  SELECT dc.doc_id, CAST(sum(dc.c * sc.s) AS BIGINT) AS score
  FROM dc JOIN sc USING (b) GROUP BY dc.doc_id
)
SELECT d.doc_id,
       COALESCE(ds.score, 0) AS score,
       COALESCE(ds.score, 0) > 0 AS selected
FROM documents d LEFT JOIN ds ON ds.doc_id = d.doc_id
"""


def q_source_cap(spark, sf_dir):
    """Deterministic per-source cap (ext/sampling.py cap_per_group): at most
    10 documents per source, chosen by sha256(seed|doc_id) order — the
    C4/Gopher-style domain balancing guard, reproducible across engines."""
    from datalakefoundation_spark.ext.sampling import cap_per_group

    return cap_per_group(_docs(spark, sf_dir), "source", "doc_id", 10, seed="r4").select(
        "doc_id", "source", "group_rank"
    )


SQL_SOURCE_CAP = """
SELECT doc_id, source, group_rank FROM (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY sha256('r4' || '|' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS INTEGER) AS group_rank
  FROM documents
) WHERE group_rank <= 10
"""


# ---------------------------------------------------------------- BPE (X38)
def q_bpe_vocab(spark, sf_dir):
    """The distributed stage of BPE training (ext/bpe.py word_counts): one
    explode + two-stage count agg + bounded top-k with count-desc,
    word-asc total order — the word-frequency table the driver-side merge
    loop trains from. Expressed here as the DataFrame the collect reads."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w"))
        .limit(200)
    )


SQL_BPE_VOCAB = """
SELECT t.w AS w, count(*) AS n
FROM documents, unnest(string_split(text, ' ')) AS t(w)
WHERE t.w <> ''
GROUP BY t.w
ORDER BY n DESC, w ASC
LIMIT 200
"""


def q_bpe_token_count(spark, sf_dir):
    """End-to-end BPE: train 200 merges from the corpus word counts
    (driver-side loop over the bounded vocabulary — deterministic: ties
    break lexicographically) and encode every document in one
    Arrow-batched mapInPandas stage. Iterative merging of a TRAINED
    table is not SQL-expressible, so this is a rows-only check (EXTRA —
    it must not occupy a driver window slot it can never hash-pass); the
    algorithm is pinned by tests/test_bpe.py AND the encode step is
    oracle-verified by q_bpe_encode against a fixed merge table."""
    from datalakefoundation_spark.ext import bpe as B

    docs = _docs(spark, sf_dir)
    merges = B.train_bpe(docs, num_merges=200)
    return B.bpe_encode(docs, merges).orderBy("doc_id")


# Fixed merge table for the oracle-paired encode check: chosen to cascade
# (table</w> needs 4 chained merges; data</w> needs the leftmost-lowest-rank
# rule to pick (a,</w>) before (a,t)) so the oracle exercises rank ordering,
# not just single substitutions. Training itself (q_bpe_token_count, EXTRA)
# stays rows-only; encode — the per-document hot path — is hash-verified.
_BPE_FIXED_MERGES = [
    ("e", "</w>"), ("w", "</w>"), ("t", "a"), ("ta", "b"),
    ("tab", "l"), ("tabl", "e</w>"), ("a", "</w>"), ("r", "o"),
    ("ro", "w</w>"), ("a", "t"), ("d", "at"), ("dat", "a</w>"),
]


def q_bpe_encode(spark, sf_dir):
    """BPE ENCODE against a fixed merge table, exploded to one scalar row
    per token (doc_id, tpos, token). The DuckDB twin replays the exact
    inference rule — repeatedly merge the leftmost occurrence of the
    lowest-ranked adjacent pair — as a recursive CTE over symbol lists,
    so the Arrow-batched encoder (ext/bpe.py bpe_encode/encode_word,
    including its per-word memo cache) is value-verified end to end."""
    from datalakefoundation_spark.ext import bpe as B

    enc = B.bpe_encode(_docs(spark, sf_dir), _BPE_FIXED_MERGES, emit_tokens=True)
    return enc.select("doc_id", F.posexplode("bpe_tokens").alias("tpos", "token"))


def _bpe_encode_oracle_sql() -> str:
    # pair keys joined with chr(1) (never occurs in the corpus); DuckDB
    # list_position returns 0 on miss, so rank r > 0 means "mergeable" and
    # the 1-based position doubles as the merge rank — list_min of the
    # positive ranks is the earliest-learned applicable merge, and
    # list_position(ranks, best) is its LEFTMOST occurrence, exactly
    # encode_word's scan. Each recursion step shrinks the word by one
    # symbol, so the terminal row per (doc_id, wpos) is the min-len one.
    merge_list = "[" + ", ".join(
        f"'{a}' || chr(1) || '{b}'" for a, b in _BPE_FIXED_MERGES
    ) + "]"
    return f"""
WITH RECURSIVE
w0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
seeded AS (
  SELECT doc_id, CAST(i AS INT) AS wpos,
         list_concat(
           list_transform(range(1, length(ws[CAST(i AS INT)]) + 1),
                          k -> ws[CAST(i AS INT)][k]),
           ['</w>']) AS syms
  FROM w0, unnest(generate_series(1, len(ws))) AS t(i)
  WHERE ws[CAST(i AS INT)] <> ''),
enc AS (
  SELECT doc_id, wpos, syms FROM seeded
  UNION ALL
  SELECT doc_id, wpos,
         list_concat(list_concat(syms[1:bi-1], [syms[bi] || syms[bi+1]]),
                     syms[bi+2:]) AS syms
  FROM (
    SELECT doc_id, wpos, syms,
           list_position(ranks, list_min(list_filter(ranks, r -> r > 0))) AS bi
    FROM (
      SELECT doc_id, wpos, syms,
             list_transform(range(1, len(syms)),
               i -> list_position({merge_list}, syms[i] || chr(1) || syms[i+1])) AS ranks
      FROM enc) p) q
  WHERE bi > 0),
final AS (
  SELECT doc_id, wpos, syms,
         row_number() OVER (PARTITION BY doc_id, wpos ORDER BY len(syms) ASC) AS rn
  FROM enc),
tok AS (
  SELECT doc_id, wpos, CAST(k AS INT) AS kpos, syms[CAST(k AS INT)] AS token
  FROM final, unnest(generate_series(1, len(syms))) AS t(k)
  WHERE rn = 1)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wpos, kpos) - 1
            AS INT) AS tpos,
       token
FROM tok
"""


# --------------------------------------------- streaming front-ends (X52/X53)
def _ts_events(spark, sf_dir):
    """events with an absolute-time ``ts`` column for the streaming ops run
    in BATCH mode (withWatermark is a no-op on batch — the same twin shape
    tests/test_streaming.py uses). Outputs convert back to µs epochs via
    unix_micros, so nothing TZ-dependent ever reaches the compare."""
    from datalakefoundation_spark.verification.core_queries import read_events

    return read_events(spark, sf_dir).withColumn(
        "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
    )


def q_salted_interval_join(spark, sf_dir):
    """X52 end-to-end vs an UNSALTED oracle — the HOT-KEY-SCOPED form (r9):
    a calibration pass over the click side picks the hot list, ONLY those
    keys are salted/replicated, everything else rides salt 0 — and the
    pair set must still equal the plain interval join's, hash-checked
    against DuckDB. Which keys land on the hot list is irrelevant to the
    result (row-identity holds for any list); the row exists to prove
    exactly that on the production code path. The fixture's keys are
    near-uniform (no key clears one share threshold at every sf), so the
    calibration is a deterministic top-8-by-count with a user_id
    tie-break rather than detect_hot_keys' share cut — same shape,
    sf-stable hot list."""
    from datalakefoundation_spark.streaming.ops import salted_stream_stream_join

    ev = _ts_events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "ts", "user_id"
    )
    hot = [
        r["user_id"]
        for r in clicks.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "user_id")
        .limit(8)
        .collect()
    ]
    j = salted_stream_stream_join(
        clicks, views, key="user_id", salt_buckets=4, within="1 day",
        hot_keys=hot,
    )
    return j.select(
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("view_id"),
    )


def q_session_overlap_join(spark, sf_dir):
    """session_overlap_join (the X53 session-shape composition) in batch
    mode, oracle-paired: gap-island sessionize clicks and views per user
    (2-day inactivity gap — the fixture's median same-type gap per user
    is ~36 h over a 30-day span, so this yields multi-event, overlapping
    sessions; classic lag+cumsum islands, expressible on both engines), then join the two session sets on per-key interval
    intersection. Bounds exported as µs epochs; n_events carried from
    both sides so the hash pins the aggregation too."""
    from datalakefoundation_spark.streaming.ops import session_overlap_join

    ev = _ts_events(spark, sf_dir)

    j = session_overlap_join(
        _gap_island_sessions(ev, "click"), _gap_island_sessions(ev, "view"),
        max_session="35 days",
    )
    return j.select(
        F.col("l_key").alias("user_id"),
        F.unix_micros("l_start").alias("c_start_us"),
        F.unix_micros("l_end").alias("c_end_us"),
        F.col("l_n_events").alias("c_n"),
        F.unix_micros("r_start").alias("v_start_us"),
        F.unix_micros("r_end").alias("v_end_us"),
        F.col("r_n_events").alias("v_n"),
    )


# identical islands rule: a session breaks when the gap exceeds 172800 s
# (2 days); epoch-second arithmetic on both sides so the flag is
# integer-exact; the 35-day length guard mirrors max_session
SQL_SESSION_OVERLAP_JOIN = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
  WHERE event_type IN ('click', 'view')),
f AS (
  SELECT user_id, event_type, tus,
         CASE WHEN tus // 1000000
                   - coalesce(lag(tus // 1000000) OVER
                       (PARTITION BY user_id, event_type ORDER BY tus),
                     -1000000000) > 172800
              THEN 1 ELSE 0 END AS newf
  FROM e),
s AS (
  SELECT user_id, event_type, tus,
         sum(newf) OVER (PARTITION BY user_id, event_type ORDER BY tus
                         ROWS UNBOUNDED PRECEDING) AS sid
  FROM f),
g AS (
  SELECT user_id, event_type, sid,
         min(tus) AS s_start, max(tus) AS s_end, count(*) AS n
  FROM s GROUP BY user_id, event_type, sid
  HAVING max(tus) - min(tus) <= CAST(3024000 AS BIGINT) * 1000000)
SELECT c.user_id,
       c.s_start AS c_start_us, c.s_end AS c_end_us, c.n AS c_n,
       v.s_start AS v_start_us, v.s_end AS v_end_us, v.n AS v_n
FROM g c JOIN g v
  ON c.user_id = v.user_id
 AND c.event_type = 'click' AND v.event_type = 'view'
 AND c.s_start <= v.s_end AND v.s_start <= c.s_end
"""


def q_sliding_window_join(spark, sf_dir):
    """X53's r9 sliding form in batch mode, oracle-paired: per-(user,
    2-day window sliding by 1 day) aggregates from clicks and views,
    equi-joined on (key, window). Spark's sliding windows are
    epoch-aligned with starts at slide multiples covering each event —
    the DuckDB twin enumerates exactly those starts (k ∈ 0..overlap-1
    back-steps from the event's day), so every event lands in 2 windows
    on both engines."""
    from datalakefoundation_spark.streaming.ops import windowed_stream_join

    ev = _ts_events(spark, sf_dir)
    j = windowed_stream_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "view"),
        key="user_id",
        window="2 days",
        slide="1 day",
        left_aggs=[F.count(F.lit(1)).alias("n_clicks")],
        right_aggs=[F.count(F.lit(1)).alias("n_views")],
    )
    return j.select(
        "user_id",
        F.unix_micros("window_start").alias("w_start_us"),
        "n_clicks",
        "n_views",
    )


SQL_SLIDING_WINDOW_JOIN = """
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
           WHERE event_type IN ('click', 'view')),
w AS (
  SELECT user_id, event_type,
         (tus // 86400000000 - k) * 86400000000 AS ws
  FROM e, unnest(generate_series(0, 1)) AS t(k)),
c AS (SELECT user_id, ws, count(*) AS n_clicks FROM w
      WHERE event_type = 'click' GROUP BY user_id, ws),
v AS (SELECT user_id, ws, count(*) AS n_views FROM w
      WHERE event_type = 'view' GROUP BY user_id, ws)
SELECT c.user_id, c.ws AS w_start_us, n_clicks, n_views
FROM c JOIN v USING (user_id, ws)
"""


def q_frontier_reconcile(spark, sf_dir):
    """X55 end-to-end vs a FROM-SCRATCH oracle: split documents into a
    prior corpus (doc_id % 5 != 0) and a frontier (doc_id % 5 == 0),
    bootstrap the assignment state by clustering the prior only, feed the
    prior survivors plus every frontier doc through
    reconcile_survivors_frontier — and the result must equal the
    from-scratch survivor set over the WHOLE corpus, which the DuckDB twin
    computes directly (recursive-CTE connected components over the minhash
    band pairs; survivors = docs that are their component's minimum or in
    no pair). The reconcile-equality theorem (components only merge,
    minima only decrease, new edges only touch the frontier) is what makes
    the two computations agree; an arbitrary id split exercises it without
    any ingest-order assumption."""
    from datalakefoundation_spark.ext.dedup import minhash_signature
    from datalakefoundation_spark.ext.recipes import (
        cluster_assignment,
        reconcile_survivors_frontier,
    )

    docs = _docs(spark, sf_dir)
    sigs = minhash_signature(docs, "text", "doc_id").localCheckpoint(eager=True)
    frontier_sigs = sigs.where(F.col("doc_id") % 5 == 0)
    prior_sigs = sigs.where(F.col("doc_id") % 5 != 0)
    assignment = cluster_assignment(prior_sigs)
    prior_losers = assignment.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    surv_in = (
        docs.where(F.col("doc_id") % 5 != 0)
        .select("doc_id")
        .join(prior_losers, "doc_id", "left_anti")
        .unionByName(docs.where(F.col("doc_id") % 5 == 0).select("doc_id"))
    )
    fr = reconcile_survivors_frontier(surv_in, sigs, frontier_sigs, assignment)
    return fr.df.select("doc_id")


SQL_FRONTIER_RECONCILE = f"""
WITH RECURSIVE {_SHINGLE_CTE.strip().removeprefix("WITH ")},
sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM sh GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (SELECT doc_a AS u, doc_b AS v FROM cand UNION SELECT doc_b, doc_a FROM cand),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON reach.u = e.v
),
losers AS (SELECT u AS doc_id FROM reach GROUP BY u HAVING min(r) <> u)
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
"""


def _gap_island_sessions(ev, kind):
    """Gap-island sessionization of one event type (2-day inactivity gap;
    classic lag+cumsum islands) — shared by the session-overlap oracle
    rows; the DuckDB twin replicates the identical islands rule."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    e = ev.where(F.col("event_type") == kind).select("user_id", "ts")
    flagged = e.withColumn(
        "__new",
        (
            F.col("ts").cast("long")
            - F.coalesce(F.lag("ts").over(w).cast("long"), F.lit(-10**9))
            > 172_800
        ).cast("int"),
    ).withColumn("__sid", F.sum("__new").over(w))
    return (
        flagged.groupBy("user_id", "__sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("__sid")
        .withColumn("closed", F.lit(True))
    )


def q_session_overlap_hot(spark, sf_dir):
    """q_session_overlap_join through the r10 HOT-KEY-SCOPED salting front
    end (hot_keys + salt_buckets): the salted plan must hash-equal the
    SAME unsalted DuckDB oracle — the row-identity contract as a gate
    property, exactly like q_salted_blanket_join pins X52's. The list
    mixes real and nonexistent keys (a stale calibration must be
    result-invisible)."""
    from datalakefoundation_spark.streaming.ops import session_overlap_join

    ev = _ts_events(spark, sf_dir)

    j = session_overlap_join(
        _gap_island_sessions(ev, "click"), _gap_island_sessions(ev, "view"),
        max_session="35 days",
        hot_keys=[1, 2, 3, 5, 8, 999_999_999], salt_buckets=4,
    )
    return j.select(
        F.col("l_key").alias("user_id"),
        F.unix_micros("l_start").alias("c_start_us"),
        F.unix_micros("l_end").alias("c_end_us"),
        F.col("l_n_events").alias("c_n"),
        F.unix_micros("r_start").alias("v_start_us"),
        F.unix_micros("r_end").alias("v_end_us"),
        F.col("r_n_events").alias("v_n"),
    )


def q_frontier_reconcile_banded(spark, sf_dir):
    """q_frontier_reconcile through the r10 BANDED fast path: the frontier
    band join fed from stored (id, band_idx, band_key) rows
    (prior_banded=band_explode(prior)) must hash-equal the same
    from-scratch recursive-CTE DuckDB clustering as the signature path —
    the banded_incremental_candidates equality theorem as a gate
    property."""
    from datalakefoundation_spark.ext.dedup import band_explode, minhash_signature
    from datalakefoundation_spark.ext.recipes import (
        cluster_assignment,
        reconcile_survivors_frontier,
    )

    docs = _docs(spark, sf_dir)
    sigs = minhash_signature(docs, "text", "doc_id").localCheckpoint(eager=True)
    frontier_sigs = sigs.where(F.col("doc_id") % 5 == 0)
    prior_sigs = sigs.where(F.col("doc_id") % 5 != 0)
    assignment = cluster_assignment(prior_sigs)
    prior_losers = assignment.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    surv_in = (
        docs.where(F.col("doc_id") % 5 != 0)
        .select("doc_id")
        .join(prior_losers, "doc_id", "left_anti")
        .unionByName(docs.where(F.col("doc_id") % 5 == 0).select("doc_id"))
    )
    fr = reconcile_survivors_frontier(
        surv_in, sigs, frontier_sigs, assignment,
        prior_banded=band_explode(prior_sigs),
    )
    return fr.df.select("doc_id")


def q_salted_blanket_join(spark, sf_dir):
    """X52's blanket form (hot_keys=None — every key salted/replicated):
    the r8 shape, kept oracle-paired so both front-end variants stay
    hash-verified against the same unsalted DuckDB join."""
    from datalakefoundation_spark.streaming.ops import salted_stream_stream_join

    ev = _ts_events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "ts", "user_id"
    )
    j = salted_stream_stream_join(
        clicks, views, key="user_id", salt_buckets=4, within="1 day"
    )
    return j.select(
        F.col("l_event_id").alias("click_id"),
        F.col("r_event_id").alias("view_id"),
    )


SQL_SALTED_INTERVAL_JOIN = """
WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus, event_type FROM events)
SELECT c.event_id AS click_id, v.event_id AS view_id
FROM e c JOIN e v ON c.user_id = v.user_id
 AND c.event_type = 'click' AND v.event_type = 'view'
 AND v.tus BETWEEN c.tus - 86400000000 AND c.tus + 86400000000
"""


def q_windowed_join(spark, sf_dir):
    """X53's batch twin: per-(user, 1-day tumbling window) aggregates from
    the click and view streams equi-joined on (key, window) — the
    pre-aggregate-then-join form, hash-checked against a DuckDB
    bucket-and-join; window bounds exported as µs epochs."""
    from datalakefoundation_spark.streaming.ops import windowed_stream_join

    ev = _ts_events(spark, sf_dir)
    j = windowed_stream_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "view"),
        key="user_id",
        window="1 day",
        left_aggs=[
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "click_value"
            ),
        ],
        right_aggs=[F.count(F.lit(1)).alias("n_views")],
    )
    return j.select(
        "user_id",
        F.unix_micros("window_start").alias("w_start_us"),
        "n_clicks",
        "click_value",
        "n_views",
    )


SQL_WINDOWED_JOIN = """
WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 * 86400000000 AS w,
                  event_type, value FROM events),
c AS (SELECT user_id, w, count(*) AS n_clicks,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS click_value
      FROM e WHERE event_type = 'click' GROUP BY user_id, w),
v AS (SELECT user_id, w, count(*) AS n_views
      FROM e WHERE event_type = 'view' GROUP BY user_id, w)
SELECT c.user_id, c.w AS w_start_us, n_clicks, click_value, n_views
FROM c JOIN v USING (user_id, w)
"""


EXTRA = {
    # rotated OUT late r10 to seat the two r10-new rows (each 2-3 rounds
    # driver-green; ngram hashing ⊂ q_hashed_features + q_bpe_encode,
    # Bloom decontamination ⊂ q_decontaminate + q_decontaminate_frac):
    "q_hashed_features_ngram": (q_hashed_features_ngram, SQL_HASHED_FEATURES_NGRAM),
    "q_decontaminate_bloom": (q_decontaminate_bloom, SQL_DECONTAMINATE),
    # rotated OUT of the driver window in r10 by the steady-state policy
    # (each driver-green r8+r9; shapes covered by residents or fresher
    # rows — as-of/backward join ⊂ q_salted_interval_join +
    # q_session_overlap_join's interval predicates, per-group top-k ⊂
    # q_histogram_percentiles' windowed ranks, tf-idf/log-weighting ⊂
    # q_trigram_lm + q_hashed_features_ngram, regex scrub ⊂
    # q_gopher_quality's regex stats, column profiling ⊂
    # q_histogram_percentiles, deterministic reshard ⊂ q_mixture/source
    # hash shapes, embedding near-dup ⊂ q_knn_topk + q_novelty,
    # hash-threshold sampling ⊂ q_source_cap, BPE vocab ⊂ q_bpe_encode
    # (encode exercises the trained table), ladder anomalies ⊂
    # q_time_weighted_avg + q_histogram_percentiles, all-pairs near-dup
    # baseline ⊂ q_dedup_minhash_vocab + q_ngram_jaccard):
    "q_asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "q_grouped_topk": (q_grouped_topk, SQL_GROUPED_TOPK),
    "q_tfidf_terms": (q_tfidf_terms, SQL_TFIDF_TERMS),
    "q_pii_scrub": (q_pii_scrub, _pii_oracle_sql()),
    "q_profile_columns": (q_profile_columns, _profile_oracle_sql()),
    "q_reshard_shuffle": (q_reshard_shuffle, SQL_RESHARD_SHUFFLE),
    "q_semantic_dedup": (q_semantic_dedup, SQL_SEMANTIC_DEDUP),
    "q_mixture_sample": (q_mixture_sample, SQL_MIXTURE_SAMPLE),
    "q_bpe_vocab": (q_bpe_vocab, SQL_BPE_VOCAB),
    "q_rollup_anomalies": (q_rollup_anomalies, SQL_ROLLUP_ANOMALIES),
    "q_text_near_dup": (q_text_near_dup, SQL_TEXT_NEAR_DUP),
    # rotated OUT of the driver window in r9 by the steady-state policy
    # (each driver-green r7+r8, shape covered by a resident or fresher
    # window row — interval condition ⊂ q_salted_interval_join, substring
    # windows ⊂ q_span_dedup + q_bpe_encode, bigram counts ⊂ q_trigram_lm +
    # q_tfidf_terms, ladder reads ⊂ q_rollup_anomalies + q_time_weighted_avg,
    # cohort aggs ⊂ q_event_funnel, hash-threshold sampling ⊂
    # q_mixture_sample + q_source_cap, integer embedding math ⊂
    # q_embedding_quantize + q_knn_topk):
    "q_interval_join": (q_interval_join, SQL_INTERVAL_JOIN),
    "q_chunk_documents": (q_chunk_documents, SQL_CHUNK_DOCUMENTS),
    "q_collocations": (q_collocations, SQL_COLLOCATIONS),
    "q_event_rollup": (q_event_rollup, SQL_EVENT_ROLLUP),
    "q_retention_cohorts": (q_retention_cohorts, SQL_RETENTION_COHORTS),
    "q_importance_resample": (q_importance_resample, SQL_IMPORTANCE_RESAMPLE),
    "q_random_projection": (q_random_projection, SQL_RANDOM_PROJECTION),
    # rotated OUT of the driver window in r8 by the steady-state policy
    # (verification/__init__.py): each driver-green r6+r7, shape covered
    # by a surviving window row — gapfill grid ⊂ q_time_weighted_avg /
    # q_rollup_anomalies, bigram LM ⊂ q_trigram_lm, direct hashed
    # features ⊂ q_hashed_features_ngram, rare-token counts ⊂
    # q_collocations + q_tfidf_terms, expectation aggs ⊂
    # q_profile_columns, frac decontamination ⊂ q_decontaminate_bloom:
    "q_rollup_gapfill": (q_rollup_gapfill, SQL_ROLLUP_GAPFILL),
    "q_bigram_lm": (q_bigram_lm, SQL_BIGRAM_LM),
    "q_hashed_features": (q_hashed_features, SQL_HASHED_FEATURES),
    "q_rare_tokens": (q_rare_tokens, SQL_RARE_TOKENS),
    "q_check_expectations": (q_check_expectations, SQL_CHECK_EXPECTATIONS),
    "q_decontaminate_frac": (q_decontaminate_frac, SQL_DECONTAMINATE_FRAC),
    # rows-only by nature (trained merge table -> no SQL oracle); its encode
    # stage is hash-verified in the window by q_bpe_encode, its training by
    # tests/test_bpe.py — keeping it here keeps it runnable without burning
    # a driver slot on a structurally red row (VERDICT r7 directive #3):
    "q_bpe_token_count": (q_bpe_token_count, None),
    # rotated OUT of the driver window in r7 (q_dedup_minhash/q_dedup_simhash
    # driver-green r1–r6, q_ann_lsh r3–r6, q_dedup_clusters/q_decontaminate
    # r3–r6, q_dedup_minhash_incr r5+r6; the banded/cluster/bloom shapes stay
    # driver-covered via the _vocab variants + q_decontaminate_bloom/_frac +
    # q_text_near_dup) to finish the first-time-verification ledger
    # (VERDICT r6 directive #1):
    "q_dedup_minhash": (q_dedup_minhash, SQL_DEDUP_MINHASH),
    "q_dedup_simhash": (q_dedup_simhash, _simhash_oracle_sql()),
    "q_ann_lsh": (q_ann_lsh, _ann_lsh_oracle_sql()),
    "q_dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "q_decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "q_dedup_minhash_incr": (q_dedup_minhash_incr, SQL_DEDUP_MINHASH),
    "q_token_count": (q_token_count, SQL_TOKEN_COUNT),
    "q_lang_id": (q_lang_id, SQL_LANG_ID),
    "q_doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "q_embedding_near_dup": (q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    # rotated OUT of the driver window in r6 (driver-green r4+r5; exact-hash
    # groupBy ⊂ q_dedup_minhash's banded groupBy, scalar-expr quality gates ⊂
    # q_gopher_quality, salted-agg/pack shapes window-tested) to make room
    # for first-time verification of the r5 LM/feature/near-dup family:
    "q_dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "q_quality_filter": (q_quality_filter, SQL_QUALITY_FILTER),
    "q_salted_agg": (q_salted_agg, SQL_SALTED_AGG),
    "q_pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "q_multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    "q_repetition_stats": (q_repetition_stats, SQL_REPETITION_STATS),
    "q_ann_ivf": (q_ann_ivf, SQL_ANN_IVF),
    # (the six late-r5-rotated rows — q_stratified_sample, q_vocab_topk,
    # q_text_stats, q_ngram_jaccard, q_knn_topk, q_novelty — were promoted
    # back into the window in r9 as the stalest EXTRA residents)
}


QUERIES = {
    # r10-new (seated in their debut round per policy — the code is this
    # round's): hot-salted session join and banded frontier reconcile,
    # each against the SAME oracle as its unsalted/signature sibling:
    "q_session_overlap_hot": (q_session_overlap_hot, SQL_SESSION_OVERLAP_JOIN),
    "q_frontier_reconcile_banded": (
        q_frontier_reconcile_banded, SQL_FRONTIER_RECONCILE,
    ),
    # rotated IN for r10 (never driver-seated: the r9-new oracle-paired
    # rows — X55 frontier reconcile, X56 session-overlap join, the
    # blanket X52 form, X53's sliding windows; q_session_overlap_join's
    # code grew the hot-key front-end THIS round, so the seat also
    # covers the change):
    "q_salted_blanket_join": (q_salted_blanket_join, SQL_SALTED_INTERVAL_JOIN),
    "q_session_overlap_join": (q_session_overlap_join, SQL_SESSION_OVERLAP_JOIN),
    "q_frontier_reconcile": (q_frontier_reconcile, SQL_FRONTIER_RECONCILE),
    "q_sliding_window_join": (q_sliding_window_join, SQL_SLIDING_WINDOW_JOIN),
    "q_span_dedup": (q_span_dedup, SQL_SPAN_DEDUP),
    # rotated IN for r9 — the X52/X53 streaming front-ends, never driver-
    # verified (added r8 as EXTRA); the hot-key-scoped salted join is the
    # r9 directive-#1 code path:
    "q_salted_interval_join": (q_salted_interval_join, SQL_SALTED_INTERVAL_JOIN),
    "q_windowed_join": (q_windowed_join, SQL_WINDOWED_JOIN),
    # rotated IN for r9 — the six stalest EXTRA residents (last driver row
    # r5), re-verified per the steady-state rotation policy:
    "q_stratified_sample": (q_stratified_sample, _stratified_oracle_sql()),
    "q_vocab_topk": (q_vocab_topk, SQL_VOCAB_TOPK),
    "q_text_stats": (q_text_stats, SQL_TEXT_STATS),
    "q_ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "q_knn_topk": (q_knn_topk, SQL_KNN_TOPK),
    "q_novelty": (q_novelty, SQL_NOVELTY),
    # rotated IN for r7 — the last oracle-paired ext queries that had never
    # had a driver CORRECTNESS row (VERDICT r6 directive #1); after this
    # rotation every oracle-paired query in the codebase has been
    # driver-verified at least once:
    # r8: q_bpe_token_count (oracle=None — structurally unverifiable by the
    # driver, a guaranteed red slot) demoted to EXTRA; replaced by the
    # hash-comparable encode check (VERDICT r7 directive #3):
    "q_bpe_encode": (q_bpe_encode, _bpe_encode_oracle_sql()),
    "q_source_cap": (q_source_cap, SQL_SOURCE_CAP),
    "q_embedding_quantize": (q_embedding_quantize, SQL_EMBEDDING_QUANTIZE),
    "q_time_weighted_avg": (q_time_weighted_avg, SQL_TIME_WEIGHTED_AVG),
    "q_histogram_percentiles": (q_histogram_percentiles, SQL_HISTOGRAM_PERCENTILES),
    "q_gopher_quality": (q_gopher_quality, SQL_GOPHER_QUALITY),
    # rotated IN for r6 — the 13 oracle-paired ext queries that had never
    # had a driver CORRECTNESS row (VERDICT r5 directive #1); LM/feature/
    # near-dup family first, then the decontamination/quality knobs:
    "q_trigram_lm": (q_trigram_lm, SQL_TRIGRAM_LM),
    # vocabulary-hashing variants: the SAME oracles as the direct paths —
    # hash_distinct must be bit-identical, so oracle-pairing it makes the
    # equivalence a gate property rather than only a local test
    "q_dedup_simhash_vocab": (
        lambda spark, sf_dir: D.simhash(_docs(spark, sf_dir), hash_distinct=True),
        _simhash_oracle_sql(),
    ),
    "q_dedup_minhash_vocab": (
        lambda spark, sf_dir: D.minhash_dedup_candidates(
            _docs(spark, sf_dir), hash_distinct=True
        ),
        SQL_DEDUP_MINHASH,
    ),
}
