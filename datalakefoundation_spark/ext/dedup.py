"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (100 TB corpus):
* exact         — one shuffle on the content hash (map-side partial agg).
* MinHash+LSH   — shingle -> k minhashes -> band keys -> candidate pairs via
                  an equi-join on (band_idx, band_key). Only same-bucket pairs
                  are ever materialized; the full O(n^2) space is never built.
                  Clustering takes one star per bucket instead of its pairs.
* SimHash       — 64-bit signature per doc in one explode+groupBy pass
                  (map-side combine on doc_id).
* n-gram Jaccard— exact verification for candidate pairs (bounded join).
* embedding     — cosine over a bounded candidate set; the all-pairs form is
                  for verification at small SF, the scale path goes through
                  similarity.lsh_near_dup_candidates prefiltering.

Text/hash expressions are JVM higher-order functions (transform / aggregate /
array_min). Embedding cosine is the one deliberate Arrow-batched pandas UDF:
Spark's array HOFs are CodegenFallback (interpreted), so per-pair cosine at
candidate-scoring volume is ~60x faster as a vectorized numpy accumulate with
the identical IEEE op order (see _seq_cosine_udf).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datalakefoundation_spark.ext.text import tokens, window_ngrams
from datalakefoundation_spark.ext.util import (
    ensure_compute_parallelism,
    size_adaptive_flag,
)

# Auto thresholds for the hash-the-vocabulary knobs below (simhash /
# minhash_signature here, hashed_feature_entries in ext.similarity).
# The crossover where hashing the corpus-distinct vocabulary beats hashing
# per occurrence depends on the REPETITION RATIO (occurrences / vocabulary),
# which no zero-job signal can see — so each floor is set where the vocab
# plan won on BOTH measured geometries (the vocab-hashing probe on
# local[32], last in the tree at commit 4dd3b77): verbatim-replicated
# sf0.1 docs (vocabulary constant — the boilerplate-heavy web-corpus
# shape) AND token-salted sf1 replicas
# (vocabulary grows with the corpus — the distinct-documents shape).
# Measured crossovers (plain-scan-estimate terms; OPTIMIZATION_r11.md has
# the full table): hashed features ~2-10 MiB geometry-dependent, >=2.2x win
# above; simhash ~8-40 MiB, 1.1-1.6x above; minhash ~8-80 MiB, ~1.1x above.
# Every floor is far above the driver SFs (sf0.1 documents estimate
# ~0.25 MiB) and the sf1 scale point (~2.5 MiB), so those keep the
# per-occurrence plan (a corpus whose repetition ratio is known can pass
# hash_distinct explicitly).
HASH_DISTINCT_FLOOR = 16 * 1024 * 1024  # hashed_feature_entries
SIMHASH_DISTINCT_FLOOR = 48 * 1024 * 1024
MINHASH_DISTINCT_FLOOR = 64 * 1024 * 1024


# ---------------------------------------------------------------- exact
def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-hash groups: survivor (min id) + copy count per distinct content."""
    return (
        df.withColumn("text_hash", F.sha2(F.col(text_col), 256))
        .groupBy("text_hash")
        .agg(
            F.min(F.col(id_col)).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct content (the min-id survivor)."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# ---------------------------------------------------------------- shingles
def shingles(text_col: str | Column, n: int = 3, sep: str = " ") -> Column:
    """Word n-gram shingles. Docs shorter than n words yield one shingle
    (the whole text).

    For the default single-space separator the windows are extracted with
    one codegen'd ``regexp_extract_all`` over a zero-width lookahead
    anchored at token starts — measured 6.6x faster end-to-end than the
    higher-order ``transform`` formulation it replaces (HOFs are
    CodegenFallback: ~10 s of the replicated-corpus minhash probe's 16 s
    was interpreted per-window slice+concat). ``[^ ]*`` (not ``\\S+``)
    reproduces ``split(text, ' ')`` semantics exactly: consecutive spaces
    yield empty tokens that participate in windows, and tabs/newlines are
    token characters, not separators (equivalence pinned by a seeded
    edge-case test). Non-default separators keep the HOF path.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if sep == " ":
        # one candidate window per token start; the lookahead demands n
        # space-separated (possibly empty) tokens ahead, so tail positions
        # with fewer than n remaining tokens emit nothing — same window
        # count as the slice() formulation below (sentinel-space anchoring
        # details in text.window_ngrams)
        # coalesce on the fallback: size(NULL array)=-1 would route NULL
        # text to array(NULL) here, whereas the HOF path below yields [""]
        # via concat_ws — keep both paths (and minhash-of-NULL-doc) at
        # sha256("") rather than an all-NULL signature
        sh = window_ngrams(c, n)
        return F.when(F.size(sh) > 0, sh).otherwise(
            F.array(F.coalesce(c, F.lit("")))
        )
    w = tokens(c, sep)
    upper = F.greatest(F.size(w) - (n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), upper),
        lambda i: F.concat_ws(" ", F.slice(w, i, n)),
    )


# ---------------------------------------------------------------- MinHash
def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_size: int = 3,
    hash_distinct: bool | None = None,
) -> DataFrame:
    """k minhashes per document.

    ONE sha256 per shingle; hash function h_i is the i-th disjoint
    8-hex-char (32-bit) slice of the digest, minimized lexicographically.
    Disjoint bits of a single sha256 are independent uniform hashes, so this
    is statistically standard MinHash at 1/k the hashing cost; 32-bit slices
    make per-pair collisions ~n/2^32 — negligible. Deterministic and
    reproducible in any engine with sha256 (the DuckDB oracle uses the
    identical construction).

    ``hash_distinct=True`` hashes only the corpus-wide DISTINCT shingles
    and joins the digests back (AQE broadcasts the vocab side when it
    fits). Bit-identical — min over a band slice is insensitive to how
    often a digest appears (equivalence-tested). Shingles are already
    deduped per document below; this knob additionally collapses
    CROSS-document repetition — boilerplate headers/footers/templates in
    web corpora, the very redundancy MinHash dedup exists to find — at
    the cost of one extra (map-side-deduped) distinct stage. The vocab
    side also carries the 8 long slices, so the occurrence stream pays
    only a join probe + 8-long map-side mins. Measured (r11, local[32],
    vocab-hashing probe at commit 4dd3b77): ~1.1-1.15x faster above ~17M
    shingle occurrences on the constant-vocabulary geometry and ~even by
    ~43M on the growing-vocabulary one; a small fixed loss below — the win is
    modest here because the direct path's HashAggregate is already cheap.

    ``None`` (default, r11) resolves by the optimizer's input-size
    estimate (``size_adaptive_flag``; floor ``MINHASH_DISTINCT_FLOOR``,
    set where BOTH measured geometries favored vocab): per-occurrence
    below the floor, vocab at scale or on unknown size. Both branches are
    bit-identical (equivalence-tested), so the pick never changes a
    result, only the plan.
    """
    hash_distinct = size_adaptive_flag(df, hash_distinct, MINHASH_DISTINCT_FLOOR)
    # Explode + groupBy rather than k array_min(transform(...)) columns:
    # Catalyst's CollapseProject would inline the shingle construction into
    # every hash column (k-fold recompute); the explode computes shingles
    # ONCE and the k min-aggregates get map-side partial aggregation, so the
    # only shuffle moves k hashes per doc.
    ex = ensure_compute_parallelism(df).select(
        F.col(id_col), F.explode(F.array_distinct(shingles(text_col, shingle_size))).alias("__s")
    )
    # min over the hex slice REINTERPRETED AS A LONG, hex-rendered back
    # after the aggregate. Lexicographic order on fixed-width lowercase hex
    # equals numeric order, so the result strings are bit-identical to
    # min-of-string — but a string min aggregate has an immutable buffer
    # type, which forces SortAggregate (a Sort on BOTH sides of the
    # shuffle, measured in the r11 plan audit); the long min keeps the
    # whole signature in one HashAggregate with map-side combine and
    # shuffles 8 longs per doc instead of 8 tagged strings (guide §2.3
    # narrower types / §2.4 removing accidental sorts).
    slices = [
        F.expr(f"cast(conv(substring(__h, {8 * i + 1}, 8), 16, 10) as bigint)")
        for i in range(num_hashes)
    ]
    if hash_distinct:
        # The vocab side carries the WHOLE per-shingle computation (sha256
        # AND the 8 long slices), so the occurrence stream pays only the
        # join probe and 8-long map-side mins — joining back the hex
        # string and re-slicing per occurrence costs measurably more.
        vocab = (
            ex.select("__s")
            .distinct()
            .withColumn("__h", F.sha2(F.col("__s"), 256))
            .select(
                "__s", *[c.alias(f"__v{i}") for i, c in enumerate(slices)]
            )
        )
        hashed = ex.join(vocab, "__s").select(
            F.col(id_col), *[f"__v{i}" for i in range(num_hashes)]
        )
        aggs = [
            F.min(F.col(f"__v{i}")).alias(f"__m{i}") for i in range(num_hashes)
        ]
    else:
        hashed = ex.select(F.col(id_col), F.sha2(F.col("__s"), 256).alias("__h"))
        aggs = [F.min(c).alias(f"__m{i}") for i, c in enumerate(slices)]
    agg = hashed.groupBy(id_col).agg(*aggs)
    return agg.select(
        F.col(id_col),
        *[
            F.expr(f"lpad(lower(hex(__m{i})), 8, '0')").alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )


def band_explode(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(id, band_idx, band_key) rows of a minhash signature table: the
    signature split into bands of ``band_size`` hashes, each band keyed by
    the sha256 of its concatenated values. Shared by the batch bucketing
    (lsh_candidate_pairs, lsh_star_edges) and the incremental index path
    below."""
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.sha2(
                    F.concat_ws("|", *[F.col(f"h{b * band_size + j}") for j in range(band_size)]),
                    256,
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, "b.band_idx", "b.band_key"
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Band the signature (bands of ``band_size`` rows), group docs by band
    key, emit distinct candidate pairs (a < b) from each bucket.

    Formulated as groupBy(bucket) + in-bucket pair expansion, NOT a
    self-join: a self-join re-computes the (expensive) signature lineage for
    both sides — Spark's exchange reuse does not fire across the join's two
    shuffles here. This form computes signatures once, shuffles only
    (band_key, id) pairs, and expands pairs bucket-locally with
    higher-order array functions. Bucket sizes are LSH-bounded, so the
    per-group state is small; hot buckets (mass near-duplicates) cost
    O(|bucket|^2) pairs in either formulation.
    """
    exploded = band_explode(sig, id_col, num_hashes, band_size)
    buckets = (
        exploded.groupBy("band_idx", "band_key")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("ids"))
        .where(F.size("ids") > 1)
    )
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def lsh_star_edges(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(doc_a, doc_b) edges that join every member of an LSH bucket to the
    bucket's minimum id (doc_a < doc_b): one star per bucket, |bucket| - 1
    edges where ``lsh_candidate_pairs`` expands |bucket|·(|bucket| - 1)/2
    pairs and deduplicates them. A star connects the same documents as
    its bucket's pairs, so connected components over the stars have the
    same nodes and the same components: this is the feed for clustering;
    ``lsh_candidate_pairs`` is for callers that need the pairs themselves.
    An edge found in several bands repeats once per band."""
    ids = F.col("ids")
    return (
        band_explode(sig, id_col, num_hashes, band_size)
        .groupBy("band_idx", "band_key")
        .agg(F.collect_set(F.col(id_col)).alias("ids"))
        .where(F.size(ids) > 1)
        .select(F.array_min(ids).alias("doc_a"), F.explode(ids).alias("doc_b"))
        .where(F.col("doc_b") != F.col("doc_a"))
    )


def minhash_dedup_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_size: int = 3,
    hash_distinct: bool | None = None,
) -> DataFrame:
    return lsh_candidate_pairs(
        minhash_signature(
            df, text_col, id_col, num_hashes, shingle_size, hash_distinct
        ),
        id_col,
        num_hashes,
        band_size,
    )


def incremental_lsh_candidates(
    index_sigs: DataFrame,
    new_sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Candidate pairs INTRODUCED by a batch of new documents against a
    persisted signature index: new-vs-old and new-vs-new, as (doc_a <
    doc_b) distinct pairs.

    This is the maintenance shape for continuous ingestion at 100 TB: the
    corpus signature index is stored once (e.g. a LakeTable the caller
    appends ``new_sigs`` to after this call) and each micro-batch pays
    O(new docs) signature compute + one equi-join of the new band keys
    against the index — NOT a full-corpus re-bucketing per batch. The
    union of every batch's incremental pairs equals the from-scratch
    batch run (each pair is found when its LATER document arrives), which
    is exactly the property the oracle-paired incremental query checks.

    The new side of the join is batch-sized; the planner (AQE) broadcasts
    it when it fits, so the index side streams through at scan speed with
    no index-wide shuffle.
    """
    all_b = band_explode(
        index_sigs.unionByName(new_sigs), id_col, num_hashes, band_size
    )
    new_b = band_explode(new_sigs, id_col, num_hashes, band_size).select(
        F.col(id_col).alias("__new_id"), "band_idx", "band_key"
    )
    return (
        all_b.join(new_b, ["band_idx", "band_key"])
        .where(F.col(id_col) != F.col("__new_id"))
        .select(
            F.least(F.col(id_col), F.col("__new_id")).alias("doc_a"),
            F.greatest(F.col(id_col), F.col("__new_id")).alias("doc_b"),
        )
        .distinct()
    )


def banded_incremental_candidates(
    prior_bands: DataFrame,
    new_sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """``incremental_lsh_candidates`` fed from a STORED band-exploded index
    (``prior_bands``: the (id, band_idx, band_key) rows ``band_explode``
    would derive from the prior signatures) instead of re-deriving the
    bands from signature rows per invocation.

    Row-identical to ``incremental_lsh_candidates(prior_sigs, new_sigs)``
    (asserted in tests/test_ext_operators.py): old-new pairs come from the
    stored bands joined to the batch's bands, new-new pairs from the
    in-batch bucketing, and both normalize to distinct (doc_a < doc_b).

    This is the 100 TB reconcile shape: the banded index is a LakeTable
    range-CLUSTERED on band_key (LakeTable.optimize), so the caller can
    prune its read to the files whose band-key range contains at least one
    of the batch's keys (prune_spec_isin) — the stored format's full-index
    scan becomes a file-skipped partial read. r9 measured and declined the
    pre-banded layout for the SCAN-ALL plan (4x rows to rescan beats 2.8 s
    of inline sha256); file skipping is what flips that trade — the 4x
    rows exist but mostly aren't read. Pruning the input is SAFE here
    because dropped files provably contain no batch band key, i.e. no
    old-new edge (matches probe NOTHING downstream)."""
    new_b = band_explode(new_sigs, id_col, num_hashes, band_size).select(
        F.col(id_col).alias("__new_id"), "band_idx", "band_key"
    )
    # The signature path subtracts the frontier from the prior by doc id
    # (anti-join); the stored-band path must do the same, not merely by
    # batch key: a doc id present in BOTH an old batch and the frontier
    # (re-ingest with changed content) would otherwise contribute edges
    # from its stale band rows that the signature path would not. The
    # anti-join is churn-sized (AQE broadcasts the new-id side) and
    # plan-invisible at scale.
    prior_bands = prior_bands.join(
        new_sigs.select(id_col), id_col, "left_anti"
    )
    old_new = (
        prior_bands.join(new_b, ["band_idx", "band_key"])
        .where(F.col(id_col) != F.col("__new_id"))
        .select(
            F.least(F.col(id_col), F.col("__new_id")).alias("doc_a"),
            F.greatest(F.col(id_col), F.col("__new_id")).alias("doc_b"),
        )
    )
    new_new = lsh_candidate_pairs(new_sigs, id_col, num_hashes, band_size)
    return old_new.unionByName(new_new).distinct()


# ---------------------------------------------------------------- SimHash
def _simhash_lane_sql(bits: int) -> list[str]:
    """Lane-packing SQL strings over 32-bit halves ``__hi``/``__lo``.

    Pack each nibble's 4 bit-indicators into disjoint 16-bit lanes of one
    long (bit j of nibble value v -> lane j), so the per-doc aggregate is
    16 long-sums instead of 64 conditional sums: a 4x smaller hash-agg
    buffer and far less generated code (the 64-slot variant took seconds
    of codegen/JIT per cold run). Lanes can't collide below the token cap.
    The 16 hex chars parse as TWO 32-bit conv() calls (64-bit conv would
    overflow signed long for digests >= 0x8000...); nibble k then falls
    out of pure shift/and arithmetic — 2 string ops per hashed row instead
    of the 16 substring+conv the first version paid (string slicing was
    the dominant per-row cost in profiles, ~40% of the query).

    Plain SQL strings, not Column trees: the bit-slicing expression forest
    (16 lanes x 7 ops + 64 majority CASEs) built as pyspark Columns costs
    ~0.7 s of Py4J round-trips + analysis PER CALL on the driver — half
    this operator's observed wall time at sf0.1. One selectExpr parse of
    pre-rendered strings is driver-side free and plans identically.
    """
    return [
        "shiftleft(shiftright(__v, 3) & 1, 48) + "
        "shiftleft(shiftright(__v, 2) & 1, 32) + "
        "shiftleft(shiftright(__v, 1) & 1, 16) + (__v & 1)".replace(
            "__v",
            f"(shiftright(__hi, {(7 - k) * 4}) & 15)"
            if k < 8
            else f"(shiftright(__lo, {(15 - k) * 4}) & 15)",
        )
        + f" AS __p{k}"
        for k in range(bits // 4)
    ]


def _simhash_pack(src: DataFrame, id_col: str, bits: int) -> DataFrame:
    """(id, __t) -> (id, __p0..__p15): sha256 the token, parse the first 16
    hex chars as two 32-bit ints, slice into packed majority-vote lanes."""
    return src.selectExpr(
        id_col, f"substring(sha2(__t, 256), 1, 16) AS __h"
    ).selectExpr(
        id_col,
        "cast(conv(substring(__h, 1, 8), 16, 10) as bigint) AS __hi",
        "cast(conv(substring(__h, 9, 8), 16, 10) as bigint) AS __lo",
    ).selectExpr(id_col, *_simhash_lane_sql(bits))


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_distinct: bool | None = None,
) -> DataFrame:
    """64-bit SimHash as a bit-string column ``simhash``.

    Per token: 64 bits from the first 16 hex chars of sha256(token); per
    document: majority vote per bit position (ties -> 0). One explode +
    one groupBy(doc) with packed lane sums — a single shuffle on doc_id
    with map-side partial aggregation.

    ``hash_distinct=True`` runs sha256 over the corpus VOCABULARY (distinct
    tokens) instead of every occurrence, joined back to the occurrence
    stream (AQE broadcasts the vocab side when it fits, so the stream stays
    shuffle-free). Bit-identical to the direct path — the per-doc lane sums
    add the same packed value per occurrence either way (equivalence-
    tested). It trades one extra (tiny, map-side-deduped) distinct stage
    for hashing vocab-many rows instead of occurrence-many — a win
    wherever occurrences outnumber the vocabulary enough to amortize the
    stage. Measured (r11, local[32], vocab-hashing probe at commit
    4dd3b77 — these supersede the pre-r11 crossover notes, which predate
    the packed-lane and hash-aggregate work that made the direct path
    cheaper): on
    constant-vocabulary replication the vocab path wins ~1.1x above ~17M
    token occurrences; on growing-vocabulary (token-salted sf1) replicas
    it wins 1.56x at ~43M occurrences (12.2 s vs 7.8 s) but LOSES below
    ~22M — the crossover tracks the repetition ratio, not corpus size
    alone.

    ``None`` (default, r11) resolves by the optimizer's input-size
    estimate (``size_adaptive_flag``; floor ``SIMHASH_DISTINCT_FLOOR``,
    set where BOTH measured geometries favored vocab): per-occurrence
    below the floor, vocab at scale or on unknown size, and the pick never
    changes a result (bit-identical, equivalence-tested).

    The bit-string representation avoids 64-bit signed-integer pitfalls and
    is directly comparable across engines.
    """
    hash_distinct = size_adaptive_flag(df, hash_distinct, SIMHASH_DISTINCT_FLOOR)
    # Cap tokens per doc so the packed lane sums below cannot overflow
    # (4 x 16-bit lanes per long: safe to 2^15 tokens; also bounds worst-case
    # compute per document — a desirable property at 100 TB regardless).
    max_tokens = (1 << 15) - 1
    tok = ensure_compute_parallelism(df).select(
        F.col(id_col),
        F.explode(F.slice(tokens(text_col), 1, max_tokens)).alias("__t"),
    )
    nlanes = bits // 4
    if hash_distinct:
        vocab = _simhash_pack(tok.select("__t").distinct(), "__t", bits)
        packed = tok.join(vocab, "__t").select(
            F.col(id_col), *[f"__p{k}" for k in range(nlanes)]
        )
    else:
        packed = _simhash_pack(tok, id_col, bits)
    agg = packed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.expr(f"sum(__p{k})").alias(f"s{k}") for k in range(nlanes)],
    )
    # bit b = lane 48 - 16*(b%4) of nibble b//4: MSB of the nibble is lane 48
    majority = "".join(
        f"CASE WHEN 2 * (shiftright(s{b // 4}, {48 - 16 * (b % 4)}) & 65535) > n "
        "THEN '1' ELSE '0' END, "
        for b in range(bits)
    ).rstrip(", ")
    return agg.selectExpr(id_col, f"concat({majority}) AS simhash")


# ---------------------------------------------------------------- n-gram Jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for given (doc_a, doc_b)
    candidate pairs. |A∪B| computed as |A|+|B|-|A∩B| so the arithmetic is
    engine-portable."""
    sh = ensure_compute_parallelism(df).select(
        F.col(id_col), F.array_distinct(shingles(text_col, shingle_size)).alias("sh")
    )
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    j = candidates.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return j.select(
        "doc_a", "doc_b", (inter / union).alias("jaccard")
    )


# ---------------------------------------------------------------- embedding cosine
_SEQ_COSINE_UDF = None


def _seq_cosine_udf():
    """Arrow-batched cosine with the exact IEEE op sequence of a sequential
    fold: per pair, ``dot = (((0 + a0*b0) + a1*b1) + ...)`` (ascending dim),
    norms likewise, result ``dot / (sqrt(na) * sqrt(nb))`` — bit-identical
    to both the Spark ``aggregate(zip_with(...))`` expression it replaces
    and DuckDB's ``list_dot_product`` (property-tested). A UDF on purpose:
    Spark's higher-order array functions are CodegenFallback (interpreted,
    ~60 µs per 64-dim pair), the numpy accumulate path is ~1 µs and keeps
    candidate scoring an embarrassingly-parallel map at 100 TB.
    Fixed-dimension embedding columns only (rows must share one length);
    NULL vectors yield NULL."""
    global _SEQ_COSINE_UDF
    if _SEQ_COSINE_UDF is None:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
            out = pd.Series([None] * len(a), dtype="float64")
            valid = a.notna() & b.notna()
            if not valid.any():
                return out
            A = np.vstack(a[valid].to_numpy()).astype(np.float64)
            B = np.vstack(b[valid].to_numpy()).astype(np.float64)
            dot = np.zeros(A.shape[0])
            na = np.zeros(A.shape[0])
            nb = np.zeros(A.shape[0])
            for i in range(A.shape[1]):
                ai, bi = A[:, i], B[:, i]
                # separate multiply then add (no FMA): the fold's op order
                dot += ai * bi
                na += ai * ai
                nb += bi * bi
            out[valid.to_numpy()] = dot / (np.sqrt(na) * np.sqrt(nb))
            return out

        _SEQ_COSINE_UDF = _cos
    return _SEQ_COSINE_UDF


def cosine_similarity(vec_a: Column, vec_b: Column) -> Column:
    """Cosine between two fixed-dim vector columns — bit-identical to
    DuckDB's ``list_dot_product``-based form (see _seq_cosine_udf).

    Arrow's pandas conversion folds float64 NaN into NULL on the way back
    from the UDF, but a zero-norm (or NaN-component) pair must surface as
    NaN exactly like the expression fold and the DuckDB oracle do — Spark
    sorts NaN greater than any double, so NaN-vs-NULL changes threshold
    filters and top-k order. Restore it: NULL inputs stay NULL, a NULL
    result from non-NULL inputs can only be a squashed NaN."""
    raw = _seq_cosine_udf()(vec_a, vec_b)
    return F.when(vec_a.isNull() | vec_b.isNull(), F.lit(None).cast("double")).otherwise(
        F.coalesce(raw, F.lit(float("nan")))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Pairs with cosine >= threshold. Without ``candidates`` this is the
    all-pairs verification form (small SF only); at scale pass the LSH-bucket
    candidate pairs from similarity.lsh_near_dup_candidates so the join is
    bounded."""
    v = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    a = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    if candidates is not None:
        j = candidates.join(a, "id_a").join(b, "id_b")
    else:
        j = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    sim = cosine_similarity(F.col("va"), F.col("vb"))
    return j.select("id_a", "id_b", sim.alias("cosine")).where(F.col("cosine") >= threshold)


# ---------------------------------------------------------------- decontamination
def decontamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 5,
) -> DataFrame:
    """Benchmark-overlap check: for each corpus document, the number of
    distinct word ``shingle_size``-grams it shares with ANY benchmark
    document (the standard n-gram decontamination test run before training
    on a scraped corpus). Only contaminated documents are returned.

    Scale design: the benchmark side is distinct shingles only — benchmark
    suites are tiny relative to a 100 TB corpus, so the equi-join on the
    shingle broadcasts the benchmark side and the corpus streams through at
    scan speed; one shuffle for the per-doc count (map-side combine)."""
    c = ensure_compute_parallelism(corpus).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, shingle_size))).alias("__s"),
    )
    b = benchmark.select(
        F.explode(F.array_distinct(shingles(text_col, shingle_size))).alias("__s")
    ).distinct()
    return (
        c.join(F.broadcast(b), "__s")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def decontamination_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 5,
    m_bits: int = 1 << 20,
    k: int = 3,
    exact_verify: bool = True,
) -> DataFrame:
    """Two-phase decontamination for benchmark suites too large to
    broadcast as a raw shingle set.

    Phase 1 screens the corpus against a BLOOM FILTER of the benchmark's
    distinct shingles: the broadcast shrinks from the full shingle strings
    (GBs for a large eval suite) to a fixed ``m_bits/8``-byte bit array
    (128 KiB at the default 2^20 bits), and the membership test is pure
    codegen (sha256 slices -> k bit probes). No false negatives by
    construction; false-positive rate ~ (1 - e^(-k*n/m))^k.

    Phase 2 (``exact_verify``) re-runs the exact shingle join ONLY for the
    documents the screen flagged — at 100 TB the candidate subset is tiny,
    so the expensive exact join touches a sliver of the corpus. Output then
    matches :func:`decontamination` exactly (id, n_shared of true hits);
    with ``exact_verify=False`` the screen's own per-doc candidate count is
    returned as ``n_candidate`` (a superset signal).

    Build-side collect is control-plane bounded: <= m_bits/64 (16 K) longs,
    independent of benchmark size.
    """
    n_words = m_bits // 64

    def _positions(col: Column) -> list[Column]:
        h = F.sha2(col, 256)
        # disjoint 15-hex-char (60-bit) digest slices -> k independent probes
        return [
            F.pmod(
                F.conv(F.substring(h, 1 + 15 * i, 15), 16, 10).cast("long"),
                F.lit(m_bits),
            )
            for i in range(k)
        ]

    spark = corpus.sparkSession
    b = benchmark.select(
        F.explode(F.array_distinct(shingles(text_col, shingle_size))).alias("__s")
    ).distinct()
    word_rows = (
        b.select(F.explode(F.array(*_positions(F.col("__s")))).alias("p"))
        .select(
            (F.col("p") / 64).cast("int").alias("w"),
            # shiftleft's numBits must be a column here -> SQL form
            F.expr("shiftleft(1L, CAST(pmod(p, 64) AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
        .collect()
    )
    arr = [0] * n_words
    for r in word_rows:
        arr[r["w"]] = r["bits"]
    bits_df = spark.createDataFrame([(arr,)], "__bloom array<long>")

    c = ensure_compute_parallelism(corpus).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, shingle_size))).alias("__s"),
    )
    probed = c.crossJoin(F.broadcast(bits_df))
    hit = None
    for i in range(k):
        # probe: (bloom[p div 64] >>> (p mod 64)) & 1 — pure codegen; SQL
        # form because shiftrightunsigned's numBits arg must be a column
        pos = (
            f"pmod(CAST(conv(substring(sha2(__s, 256), {1 + 15 * i}, 15), 16, 10)"
            f" AS BIGINT), {m_bits})"
        )
        cond = F.expr(
            f"(shiftrightunsigned(element_at(__bloom, CAST(({pos}) / 64 AS INT) + 1),"
            f" CAST(pmod({pos}, 64) AS INT)) & 1) = 1"
        )
        hit = cond if hit is None else (hit & cond)
    candidates = probed.where(hit)
    if not exact_verify:
        return candidates.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_candidate")
        )
    flagged = candidates.select(id_col).distinct()
    survivors = corpus.join(flagged, id_col, "left_semi")
    return decontamination(survivors, benchmark, text_col, id_col, shingle_size)


def decontamination_fraction(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 5,
) -> DataFrame:
    """Fuzzy decontamination score: for EVERY corpus document, the fraction
    of its distinct ``shingle_size``-grams that appear in any benchmark
    document. Unlike :func:`decontamination` (which returns only contaminated
    docs and their absolute overlap), this keeps clean documents (fraction
    0.0) so a pipeline can threshold at e.g. >= 0.1 "partially contaminated"
    instead of only catching exact n-gram hits — the graduated policy most
    published decontamination setups use on top of the binary test.

    Same scale shape as :func:`decontamination`: the benchmark side reduces
    to distinct shingles and broadcasts; the corpus streams through one
    scan + one per-doc aggregation (map-side combine). The fraction is one
    integer division — bit-reproducible across engines."""
    c = ensure_compute_parallelism(corpus).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, shingle_size))).alias("__s"),
    )
    b = (
        benchmark.select(
            F.explode(F.array_distinct(shingles(text_col, shingle_size))).alias("__s")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        c.join(F.broadcast(b), "__s", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_shared"),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "n_shared",
            (F.col("n_shared") / F.col("n_shingles")).alias("contaminated_frac"),
        )
    )


# ---------------------------------------------------------------- novelty
def novelty_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
) -> DataFrame:
    """Cross-document duplication fraction: for each document, the share of
    its distinct word shingles already present in an earlier document
    (ordering by id — ingestion order). Low novelty -> the document is
    mostly re-hashed content even if no single pair-wise near-dup fires.

    Two shuffles: shingle -> min(doc_id) (map-side combine), then one
    groupBy per doc. The shingle->first-owner table is the only wide state
    and it shrinks with corpus redundancy."""
    sh = ensure_compute_parallelism(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, shingle_size))).alias("__s"),
    )
    first = sh.groupBy("__s").agg(F.min(F.col(id_col)).alias("__first"))
    return (
        sh.join(first, "__s")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("__first") < F.col(id_col)).cast("long")).alias("n_seen_before"),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "n_seen_before",
            (F.lit(1.0) - F.col("n_seen_before") / F.col("n_shingles")).alias("novelty_ratio"),
        )
    )

# ---------------------------------------------------------------- span dedup
def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_size: int = 5,
) -> DataFrame:
    """Substring-level deduplication REWRITER (the token-window analog of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): delete every token covered by a ``span_size``-token window
    that also occurs in an EARLIER document (min ``id_col`` owns each
    span). The first document keeps its text intact; later documents lose
    only their duplicated spans — the key difference from document-level
    dedup, which throws away the novel remainder of a partially-copied
    document.

    Returns one row per input document:
      (doc_id, clean_text, n_tokens, n_removed)
    with ``clean_text`` the surviving tokens re-joined in original order
    ('' when everything was duplicated) and ``n_removed`` the count of
    deleted token positions.

    Scale shape: explode to (doc, start, span) — the same cardinality as
    the shingle explode every other dedup op pays — one groupBy(span)
    min-agg for ownership (map-side combine; the owner table SHRINKS with
    corpus redundancy), a join back on span pre-filtered to docs > owner,
    an explode of covered positions bounded by span_size x duplicated
    spans, a (doc, pos) distinct + anti-join, and a per-doc
    sort_array(collect_list) whose state is one document's tokens — no
    global sort, no driver materialization, every expression a codegen'd
    built-in. Reference semantics source: novelty_stats above measures
    this duplication; span_dedup acts on it.
    """
    base = ensure_compute_parallelism(df).select(
        F.col(id_col), F.col(text_col).alias("__txt"), tokens(text_col).alias("__w")
    )
    # (doc, start, span): start is the 1-based slice index, mirroring
    # shingles(); a doc shorter than span_size yields one whole-doc span.
    # posexplode over the codegen'd shingle array recovers the start index
    # for free (array position = token start), replacing the interpreted
    # per-window struct-building transform.
    spans = base.select(
        F.col(id_col),
        F.size("__w").alias("__len"),
        F.posexplode(shingles("__txt", span_size)).alias("pos0", "s"),
    ).select(id_col, "__len", (F.col("pos0") + 1).alias("start"), "s")
    owner = spans.groupBy("s").agg(F.min(id_col).alias("__owner"))
    # positions covered by spans whose owner is an earlier document
    covered = (
        spans.join(owner, "s")
        .where(F.col("__owner") < F.col(id_col))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(
                    F.col("start"),
                    F.least(F.col("start") + (span_size - 1), F.col("__len")),
                )
            ).alias("pos"),
        )
        .distinct()
    )
    tok = base.select(
        F.col(id_col),
        F.posexplode("__w").alias("pos0", "__t"),
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "__t")
    # field access on an array-of-structs (GetArrayStructFields) stays in
    # codegen, unlike a transform(…, st -> st.field) lambda
    kept = (
        tok.join(covered, [id_col, "pos"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("__t")))
            ).alias("__sorted")
        )
        .select(
            F.col(id_col),
            F.concat_ws(" ", F.col("__sorted").getField("__t")).alias("clean_text"),
        )
    )
    removed = covered.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_removed"))
    return (
        base.select(F.col(id_col), F.size("__w").alias("n_tokens"))
        .join(kept, id_col, "left")
        .join(removed, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
        )
    )
