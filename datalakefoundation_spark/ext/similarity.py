"""Similarity search over embedding columns.

* ``brute_force_topk`` — exact cosine top-k (query set × corpus), the
  correctness baseline. At 100 TB the corpus side streams partition-wise
  and the (small) query set is broadcast, so there is no shuffle of the
  corpus — only the final per-query top-k aggregation moves data.
* ``lsh_band_keys`` / ``lsh_topk`` — banded sign-random-projection LSH
  (same band structure as the MinHash dedup path): ``bands`` independent
  groups of ``planes_per_band`` deterministic hyperplanes; a candidate
  pair is any two vectors sharing ANY band key. The keyspace is
  bands x 2^planes_per_band (4 x 256 = 1024 at the defaults, vs 256 for
  the old single 8-bit bucket), parallelism scales with it, and recall
  is boosted by the OR over bands. At 100 TB raise ``planes_per_band``
  (e.g. 16 -> 65536 buckets/band) so per-bucket candidate joins stay
  bounded; each band shuffles on its key only. The planes are derived
  from sha256 in *Python* at plan-build time, so the identical constants
  are usable by any oracle engine.
* ``ivf_assign`` / ``ivf_probes`` / ``ivf_topk`` — inverted-file index: a
  deterministic centroid subset (every ``stride``-th vector), each vector
  stored in its nearest centroid cell (broadcast join — the centroid set
  is tiny), then candidate search within each query's ``nprobe`` nearest
  cells (multiprobe, default 2 — recovers boundary-vector recall that
  nprobe=1 loses). At 100 TB the corpus shuffles once on ``cluster_id``
  and each cell is scanned independently; the centroid table never
  shuffles; multiprobe multiplies only the (small) query side.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datalakefoundation_spark.ext.dedup import cosine_similarity
from datalakefoundation_spark.ext.util import (
    ensure_compute_parallelism,
    size_adaptive_flag,
)


def hyperplane_signs(num_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1 hyperplane weights: sign of bit i of sha256(p||i).
    Pure Python/hashlib — identical constants for Spark and the DuckDB oracle."""
    planes = []
    for p in range(num_planes):
        row = []
        for i in range(dim):
            h = hashlib.sha256(f"{p}|{i}".encode()).digest()
            row.append(1.0 if h[0] % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def _signature_column(
    vec: Column,
    num_planes: int = 32,
    dim: int = 64,
    center_means: "np.ndarray | None" = None,
) -> Column:
    """num_planes-char sign-signature Column for a vector column.

    Arrow-batched pandas UDF: the whole batch's ``num_planes`` dots are
    computed as ``dim`` vectorized accumulate steps in ascending dimension
    order, so each (vector, plane) result performs EXACTLY the IEEE-754
    op sequence ``(((0 + v0*w0) + v1*w1) + ...)`` — bit-identical to the
    sequential folds of both Spark's ``aggregate(zip_with(...))`` and
    DuckDB's ``list_dot_product`` (property-tested in
    tests/test_ext_operators.py), so near-zero dot signs agree across
    engines. A UDF is the right tool here, not a concession: Spark's
    higher-order array functions are CodegenFallback (interpreted, ~1 ms
    per vector at 32x64), while the numpy path is ~1 µs per vector and
    scales to billions of rows as an embarrassingly-parallel map.

    ``center_means`` (per-dimension corpus means) switches the hash to
    MEAN-CENTERED projections: ``sign(w·(v-μ)) = sign(w·v - w·μ)``, one
    extra subtract of a per-plane constant after the fold. Random
    hyperplanes through the origin are useless on all-nonnegative data
    (hashed text counts: every vector sits in the positive orthant and
    the Zipf head carries the mass, so most docs share one sign pattern
    and buckets go quadratic — measured in tools/text_near_dup_cert.py);
    centering moves the planes through the data centroid, restoring
    balanced buckets. The cosine scored downstream stays the RAW cosine —
    centering only steers candidate generation."""
    from pyspark.sql.functions import pandas_udf

    W = np.array(hyperplane_signs(num_planes, dim), dtype=np.float64)  # (P, dim)
    if center_means is not None:
        mu = np.asarray(center_means, dtype=np.float64)
        offsets = np.zeros(W.shape[0], dtype=np.float64)
        for i in range(W.shape[1]):
            # same accumulate order as the vector fold below
            offsets += mu[i] * W[:, i]
    else:
        offsets = None

    @pandas_udf("string")
    def _sig(v: pd.Series) -> pd.Series:
        # NULL vector -> all-'0' signature, matching the expression form it
        # replaced (CASE WHEN NULL >= 0 -> '0' per plane)
        out = pd.Series(["0" * W.shape[0]] * len(v), dtype=object)
        valid = v.notna()
        if not valid.any():
            return out
        M = np.vstack(v[valid].to_numpy()).astype(np.float64)  # (n, dim)
        acc = np.zeros((M.shape[0], W.shape[0]), dtype=np.float64)
        for i in range(W.shape[1]):
            # separate multiply then add (numpy emits no FMA here): per
            # (row, plane) the exact op order of the sequential fold
            acc += M[:, i : i + 1] * W[:, i]
        if offsets is not None:
            acc = acc - offsets
        bits = np.where(acc >= 0, "1", "0")
        out[valid.to_numpy()] = ["".join(r) for r in bits]
        return out

    return _sig(vec)


def lsh_signature(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 32,
    dim: int = 64,
) -> DataFrame:
    """(id, __sig) with a num_planes-char sign signature per vector
    (see _signature_column for the bit-exactness contract)."""
    return df.select(
        F.col(id_col), _signature_column(F.col(vec_col), num_planes, dim).alias("__sig")
    )


def lsh_band_keys(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    planes_per_band: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(id, bks) where bks is an array of ``bands`` keys "<band>|<bits>";
    two vectors are LSH candidates iff they share any element. Bands
    partition one ``bands * planes_per_band``-plane signature, computed
    once per vector."""
    sig = lsh_signature(df, id_col, vec_col, bands * planes_per_band, dim)
    keys = ", ".join(
        f"concat('{b}', '|', substring(__sig, {b * planes_per_band + 1}, {planes_per_band}))"
        for b in range(bands)
    )
    return sig.selectExpr(id_col, f"array({keys}) AS bks")


def _corpus_centroid(base: DataFrame, dim: int) -> "np.ndarray":
    """Per-dimension corpus mean of a (__id, __v) frame — one bounded EAGER
    aggregate (dim sums + dim counts to the driver; the only action inside
    the otherwise-lazy banded builders). Summed as decimal, not double —
    decimal addition is exact and associative, so the centroid (and
    therefore any centered candidate set built from it) is identical
    run-to-run regardless of partition order, matching _signature_column's
    bitwise-reproducible fold. The 12-digit input truncation is immaterial
    for a bucketing centroid; hashed-feature weights (the text_near_dup
    default) are integers and lose nothing."""
    row = base.agg(
        *[
            F.sum(F.col("__v")[i].cast("decimal(38,12)")).alias(f"m{i}")
            for i in range(dim)
        ],
        *[F.count(F.col("__v")[i]).alias(f"n{i}") for i in range(dim)],
    ).first()
    return np.array(
        [
            float(row[f"m{i}"]) / row[f"n{i}"]
            if row[f"m{i}"] is not None and row[f"n{i}"]
            else 0.0
            for i in range(dim)
        ],
        dtype=np.float64,
    )


def lsh_plan(
    threshold: float,
    target_recall: float = 0.9,
    max_bands: int = 32,
    background_cos: float = 0.0,
    min_planes: int = 6,
    max_planes: int = 16,
) -> tuple[int, int]:
    """Closed-form (bands, planes_per_band) picker for the banded sign-LSH
    paths. Sign-LSH collision probability per plane for a pair at cosine c
    is ``p = 1 − arccos(c)/π`` (Charikar 2002), so a pair survives a band
    of ``ppb`` planes with ``p^ppb`` and is emitted by ``bands`` bands with
    ``1 − (1 − p^ppb)^bands``.

    Picks the FEWEST bands (shuffle volume is linear in bands) such that a
    pair AT the threshold reaches ``target_recall``, subject to the
    expected background collision rate ``bands · p_bg^ppb`` (p_bg from
    ``background_cos``; 0.5 for centered/orthogonal background) staying at
    or below the default operating point's (bands=8, ppb=8) — i.e. recall
    is bought with MORE, NARROWER bands, never with wider buckets. Raising
    planes_per_band is the lever: each extra plane halves background
    collisions per band while costing true pairs only ``p``.

    The bound treats ``threshold`` as the pair's cosine under the hashed
    geometry; mean-centering (the text path default) shifts planted pairs
    somewhat below their raw cosine, so plan with a recall target ABOVE
    the floor you need and certify empirically
    (tools/text_near_dup_cert.py)."""
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0,1): {target_recall}")
    p_true = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p_bg = 1.0 - math.acos(max(-1.0, min(1.0, background_cos))) / math.pi
    bg_budget = 8 * p_bg**8  # the default operating point's background rate
    best: tuple[int, int] | None = None
    for ppb in range(min_planes, max_planes + 1):
        per_band = p_true**ppb
        if per_band >= 1.0:
            continue
        bands = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - per_band))
        if bands < 1 or bands > max_bands:
            continue
        if bands * p_bg**ppb > bg_budget:
            continue
        if best is None or bands < best[0]:
            best = (bands, ppb)
    if best is None:
        raise ValueError(
            f"no (bands<= {max_bands}, planes in [{min_planes},{max_planes}]) "
            f"reaches recall {target_recall} at threshold {threshold} within "
            "the background-collision budget — lower target_recall or raise "
            "max_bands"
        )
    return best


def _band_key_array(bands: int, planes_per_band: int) -> Column:
    """array<string> of "<band>|<bits>" keys over a ``__sig`` column."""
    return F.array(
        *[
            F.concat(
                F.lit(str(b)), F.lit("|"),
                F.substring("__sig", b * planes_per_band + 1, planes_per_band),
            )
            for b in range(bands)
        ]
    )


def lsh_bucket_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 8,
    planes_per_band: int = 8,
    dim: int = 64,
    center: bool = False,
) -> DataFrame:
    """Per-band bucket-width diagnostics for the banded-LSH paths: one row
    per band with ``(band, n_buckets, max_width, p99_width,
    expanded_pairs)`` where expanded_pairs = Σ w·(w−1)/2 over the band's
    buckets — the exact number of in-bucket pairs the expansion stage
    would score for that band.

    Run this BEFORE an expensive pair expansion to size bands /
    planes_per_band / max_bucket_width: it costs one signature scan plus
    one (band, key) shuffle of (id)-sized rows — orders of magnitude
    cheaper than the expansion it predicts. A band whose expanded_pairs
    approaches n²/2 means the keyspace is too narrow (raise
    planes_per_band) or the data is degenerate for the current projection
    (for all-nonnegative vectors, set ``center=True``)."""
    base = ensure_compute_parallelism(df).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    mu = _corpus_centroid(base, dim) if center else None
    sig = _signature_column(F.col("__v"), bands * planes_per_band, dim, center_means=mu)
    e = base.select(sig.alias("__sig")).select(
        F.explode(_band_key_array(bands, planes_per_band)).alias("__bk")
    )
    widths = e.groupBy("__bk").agg(F.count(F.lit(1)).alias("w"))
    return (
        widths.select(
            F.split("__bk", "\\|").getItem(0).cast("int").alias("band"), "w"
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("w").alias("max_width"),
            F.expr("percentile_approx(w, 0.99)").alias("p99_width"),
            F.sum(F.expr("w * (w - 1) / 2")).cast("long").alias("expanded_pairs"),
        )
        .orderBy("band")
    )


def _banded_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bands: int,
    planes_per_band: int,
    dim: int,
    ordered: bool,
    with_vectors: bool,
    max_bucket_width: int | None = None,
    center: bool = False,
) -> DataFrame:
    """Shared candidate-pair expansion for the banded-LSH paths: explode the
    band keys, groupBy(bucket) + in-bucket pair expansion (NOT a band
    self-join — a self-join duplicates the signature subtree into both plan
    branches and recomputes every plane sum per side; exchange reuse does
    not fire across the explode). One shuffle on the band key, signatures
    computed exactly once.

    Global dedup without a ``distinct`` shuffle: a pair colliding in
    several bands is emitted ONLY from its first matching band (both full
    signatures ride along in each bucket member, so "does an earlier band
    also match?" is a few JVM substring compares at expansion time). That
    removes the old plan's global pair-``distinct`` exchange entirely.

    ``with_vectors=True`` additionally carries each vector through the one
    band shuffle so scoring happens in place — no join back to the vector
    table (the old plan paid two shuffling joins). The cost is ``bands``
    copies of each vector through a single exchange; the win is two fewer
    shuffles of the (much larger) pair set. Candidate-only callers keep
    the shuffle payload to (id, sig).

    ``ordered=True`` keeps each unordered pair once (a.__id < b.__id);
    ``False`` keeps both directions (per-query candidate lists).

    ``max_bucket_width`` (100 TB knob, default off) caps degenerate
    buckets: members are sorted by id and only the first N take part in
    pair expansion, bounding the worst bucket at N^2 pairs. Off by
    default — capping trades recall and is only needed when
    ``planes_per_band`` can't be raised enough to keep buckets narrow."""
    num_planes = bands * planes_per_band
    base = ensure_compute_parallelism(df).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    mu = _corpus_centroid(base, dim) if center else None
    sig = _signature_column(F.col("__v"), num_planes, dim, center_means=mu)
    keyed = base.select(
        "__id", *(["__v"] if with_vectors else []), sig.alias("__sig")
    )
    e = keyed.select(
        "*", F.explode(_band_key_array(bands, planes_per_band)).alias("__bk")
    )
    member = F.struct(
        F.col("__id"), F.col("__sig"), *([F.col("__v")] if with_vectors else [])
    )
    mem = F.collect_list(member)
    if max_bucket_width is not None:
        # deterministic cap: sort_array orders by the struct's first field
        # (__id), so every run keeps the same members
        mem = F.slice(F.sort_array(mem), 1, int(max_bucket_width))
    buckets = (
        e.groupBy("__bk").agg(mem.alias("mem")).where(F.size("mem") > 1)
    )
    pairs = buckets.select(
        "__bk", F.explode("mem").alias("a"), "mem"
    ).select("__bk", "a", F.explode("mem").alias("b"))
    idcond = (
        (F.col("a.__id") < F.col("b.__id"))
        if ordered
        else (F.col("a.__id") != F.col("b.__id"))
    )
    # first band whose sub-signatures agree; emitting only from that band
    # makes each pair globally unique with zero extra shuffles
    first_match = F.lit(bands)
    for b in reversed(range(bands)):
        sa = F.substring(F.col("a.__sig"), b * planes_per_band + 1, planes_per_band)
        sb = F.substring(F.col("b.__sig"), b * planes_per_band + 1, planes_per_band)
        first_match = F.when(sa == sb, F.lit(b)).otherwise(first_match)
    band_idx = F.split(F.col("__bk"), "\\|").getItem(0).cast("int")
    return pairs.where(idcond & (first_match == band_idx))


def _id_is_integral(df: DataFrame, id_col: str) -> bool:
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    return isinstance(
        df.schema[id_col].dataType, (ByteType, ShortType, IntegerType, LongType)
    )


# In-worker memory guard for the blocked kernels (r12, ADVICE r11): a
# degenerate bucket/cell of width n used to materialize full n x n emit and
# cosine matrices inside one Python worker — linear growth of a hot bucket
# with the corpus turns into QUADRATIC worker memory and an OOM the per-pair
# JVM form (which streams pairs) never had. Every blocked kernel now
# processes ROW CHUNKS of the bucket against the member matrix: per-pair
# arithmetic is independent of batch composition (see
# _dim_order_cosine_block), so results stay bit-identical while peak chunk
# memory is bounded at ~CELLS matrix cells (~9 bytes/cell for float64 cosine
# + bool masks -> the 8M default keeps a chunk under ~80 MB at ANY bucket
# width). A bucket at or below the chunk size runs exactly the old
# single-block code path.
# Read at plan build time on the driver; the kernels close over the value.
_BLOCKED_CHUNK_CELLS = 8_000_000

# Input-size floor (bytes, plan-build-time estimate) above which the ANN
# operators take the blocked kernels (``_resolve_blocked``).
_LSH_BLOCKED_MIN_BYTES = 4 * 1024 * 1024


def _id_cast_back(out: DataFrame, src: DataFrame, id_col: str, cols) -> DataFrame:
    """Cast the blocked kernels' int64 id outputs back to the input id
    type (no-op for long ids — the common case — so the audited plans are
    untouched), keeping the blocked/per-pair forms schema-identical for
    narrower integral ids."""
    from pyspark.sql.types import LongType

    dt = src.schema[id_col].dataType
    if isinstance(dt, LongType):
        return out
    return out.select(
        *[
            F.col(c).cast(dt).alias(c) if c in cols else F.col(c)
            for c in out.columns
        ]
    )


def _resolve_blocked(df: DataFrame, id_col: str, blocked: bool | None) -> bool:
    """Resolve the blocked/per-pair tri-state shared by the ANN operators.

    Explicit bool wins — but ``blocked=True`` with a non-integral id column
    raises immediately: the blocked kernels exchange ids as int64 (Arrow
    schema ``id long``), so a string/decimal id would crash mid-job with an
    opaque pandas cast error (r12, ADVICE r11). ``None`` picks blocked iff
    the optimizer's plan-build-time size estimate reaches
    ``_LSH_BLOCKED_MIN_BYTES`` (4 MiB; unknown size chooses blocked — the
    scale-safe side) AND the id column is integral — non-integral ids
    silently keep the per-pair form, whose output preserves the id type at
    any scale, instead of making the crash/type outcome depend on a size
    estimate. Integral-but-narrower ids (int,
    short) are fine: callers cast the blocked output back to the input id
    type so both forms return the same schema."""
    if blocked is not None:
        if blocked and not _id_is_integral(df, id_col):
            raise TypeError(
                f"blocked=True requires an integral id column; {id_col!r} is "
                f"{df.schema[id_col].dataType.simpleString()} — use the "
                "per-pair form (blocked=False) or provide integral ids"
            )
        return bool(blocked)
    if not _id_is_integral(df, id_col):
        return False
    return size_adaptive_flag(df, None, _LSH_BLOCKED_MIN_BYTES)


def _banded_pairs_scored_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bands: int,
    planes_per_band: int,
    dim: int,
    ordered: bool,
    max_bucket_width: int | None = None,
    center: bool = False,
    limit_per_id: int | None = None,
) -> DataFrame:
    """Bucket-blocked twin of ``_banded_pairs(with_vectors=True)`` + cosine
    projection: the same candidate pairs (first-matching-band rule, same id
    ordering, same deterministic bucket cap) with the same bit-exact cosine
    (``_dim_order_cosine_block`` reproduces the per-pair fold's IEEE op
    order), but each vector crosses the Python boundary ONCE PER BAND
    instead of once per candidate pair: the band-key groups go through
    ``applyInPandas`` and the whole in-bucket pair expansion + scoring is
    one vectorized block per bucket.

    Why: the per-pair form ships 2 x ``dim`` doubles per candidate pair
    through ArrowEvalPython — O(pairs) Arrow bytes, which the r11 plan
    audit measured as the dominant cost of ``lsh_topk`` (~8M pairs x 128
    doubles at sf0.1). This form ships O(members x bands) vectors into the
    same single band-key shuffle the old plan already paid and emits
    24-byte scalar rows (guide §4.1 pass only needed columns / §8 move
    heavy bytes once, decide on small rows). Bucket-width caps bound the
    per-group matrix exactly like the per-pair form's expansion.

    ``limit_per_id`` (top-k callers): emit only each id_a's best
    ``limit_per_id`` partners PER BUCKET under the exact downstream window
    order (cosine desc with NaN greatest and NULL least, ties id_b asc).
    A pair appears in exactly one bucket (first-match rule), so the global
    top-k over the union of per-bucket top-k partials is exact — the same
    partial-top-k argument ``brute_force_topk_blocked`` uses; it shrinks
    the window exchange's input from O(candidate pairs) to
    O(limit x bands) rows per id.

    Returns (id_a, id_b, cosine) with ``cosine_similarity``'s exact
    NULL/NaN contract: NULL iff either vector is NULL; NaN (restored after
    Arrow's NaN->NULL squash) for zero-norm/NaN-component pairs."""
    num_planes = bands * planes_per_band
    base = ensure_compute_parallelism(df).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    mu = _corpus_centroid(base, dim) if center else None
    sig = _signature_column(F.col("__v"), num_planes, dim, center_means=mu)
    keyed = base.select("__id", "__v", sig.alias("__sig"))
    e = keyed.select(
        "*", F.explode(_band_key_array(bands, planes_per_band)).alias("__bk")
    )
    ppb = int(planes_per_band)
    chunk_cells = _BLOCKED_CHUNK_CELLS
    cap = None if max_bucket_width is None else int(max_bucket_width)
    is_ordered = bool(ordered)

    def _expand(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
                "__vnull": pd.Series(dtype="bool"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["__id"].to_numpy(dtype=np.int64)
        if cap is not None and n > cap:
            # deterministic cap: the lowest-id members, matching the
            # per-pair form's slice(sort_array(mem), 1, cap) (struct sort
            # orders by __id first; ids are unique by contract)
            keep = np.sort(np.argsort(ids, kind="stable")[:cap])
            pdf = pdf.iloc[keep]
            n = len(pdf)
            ids = pdf["__id"].to_numpy(dtype=np.int64)
        sigs = pdf["__sig"].to_numpy()
        band = int(pdf["__bk"].iloc[0].split("|", 1)[0])
        # per-earlier-band sub-signature arrays, built once per bucket and
        # reused by every row chunk below
        subs = [
            np.array([s[t * ppb : (t + 1) * ppb] for s in sigs])
            for t in range(band)
        ]
        vals = pdf["__v"].to_numpy()
        valid = np.array([v is not None for v in vals])
        vidx = np.nonzero(valid)[0]
        M = (
            np.vstack([np.asarray(vals[i], dtype=np.float64) for i in vidx])
            if vidx.size
            else None
        )
        # row index -> row's position in M (meaningful only where valid)
        mpos = np.cumsum(valid) - 1
        vnull = ~valid
        # row-chunked expansion (r12): peak memory is chunk x n cells, not
        # n x n — a degenerate bucket can no longer OOM the worker. One
        # chunk == the pre-r12 whole-bucket code path.
        step = max(1, chunk_cells // max(1, n))
        out_a, out_b, out_cos, out_null = [], [], [], []
        for lo in range(0, n, step):
            hi = min(lo + step, n)
            # emit a pair only from its FIRST matching band (the
            # _banded_pairs global-dedup rule): all members of this bucket
            # agree on band ``band`` by construction, so "first match is
            # here" means every earlier band's sub-signatures differ
            emit = np.ones((hi - lo, n), dtype=bool)
            for sub in subs:
                emit &= sub[lo:hi][:, None] != sub[None, :]
            if is_ordered:
                emit &= ids[lo:hi][:, None] < ids[None, :]
            else:
                emit &= ids[lo:hi][:, None] != ids[None, :]
            ali, bi = np.nonzero(emit)
            if ali.size == 0:
                continue
            ai = ali + lo
            cos = np.full((hi - lo, n), np.nan, dtype=np.float64)
            rvalid = valid[lo:hi]
            if M is not None and rvalid.any():
                rv = np.nonzero(rvalid)[0]
                # block[i, j] = dot_ij / (sqrt(n_j) * sqrt(n_i)) — the
                # operand order of the denominator product differs per
                # orientation but IEEE multiplication is commutative, so
                # [ai, bi] is exactly the per-pair fold's cosine(a, b);
                # each pair's value is independent of the chunking
                cos[np.ix_(rv, vidx)] = _dim_order_cosine_block(
                    M[mpos[lo:hi][rvalid]], M
                )
            pair_null = vnull[ai] | vnull[bi]
            key = cos[ali, bi]
            # partial top-k pays a lexsort; below a few thousand pairs the
            # sort costs more than the window rows it saves (measured at
            # sf0.1: +0.34 s over ~1000 tiny buckets), and exactness does
            # not depend on WHERE the cap applies — unfiltered pairs are
            # simply re-ranked by the window. Each id appears as id_a in
            # exactly one chunk, so per-chunk top-k per id_a equals the
            # bucket-wide one whenever it fires.
            if limit_per_id is not None and ai.size > 4096:
                # Spark's window order is cosine DESC (NaN greatest, NULL
                # least) then neighbor id ASC — encode it as a sortable key
                sk = np.where(np.isnan(key), np.inf, key)
                sk = np.where(pair_null, -np.inf, sk)
                order = np.lexsort((ids[bi], -sk, ids[ai]))
                grp = ids[ai][order]
                starts = np.r_[0, np.flatnonzero(np.diff(grp)) + 1]
                sizes = np.diff(np.r_[starts, order.size])
                pos = np.arange(order.size) - np.repeat(starts, sizes)
                keep = order[pos < int(limit_per_id)]
                ai, bi, pair_null, key = ai[keep], bi[keep], pair_null[keep], key[keep]
            out_a.append(ids[ai])
            out_b.append(ids[bi])
            out_cos.append(key)
            out_null.append(pair_null)
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_cos),
                "__vnull": np.concatenate(out_null),
            }
        )

    raw = e.groupBy("__bk").applyInPandas(
        _expand, "id_a long, id_b long, cosine double, __vnull boolean"
    )
    # cosine_similarity's contract: NULL vector -> NULL; any other NULL
    # coming back from Arrow is a squashed NaN and must be restored BEFORE
    # windows/filters (Spark sorts NaN first under desc but NULL last)
    return raw.select(
        "id_a",
        "id_b",
        F.when(F.col("__vnull"), F.lit(None).cast("double"))
        .otherwise(F.coalesce(F.col("cosine"), F.lit(float("nan"))))
        .alias("cosine"),
    )


def lsh_near_dup_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    planes_per_band: int = 8,
    dim: int = 64,
    center: bool = False,
    max_bucket_width: int | None = None,
) -> DataFrame:
    """Bounded candidate pairs ``(id_a, id_b)`` (id_a < id_b) from banded-LSH
    bucket collisions — the scale path feeding
    ``dedup.embedding_near_dup_pairs(candidates=...)``: one shuffle on the
    band key and in-bucket pair expansion, never an all-pairs join. Recall
    tunes with ``bands`` (more bands = more chances to collide); precision
    is restored by the exact cosine filter downstream. ``center=True``
    switches to mean-centered projections — REQUIRED for all-nonnegative
    vectors (hashed text counts), where origin-through hyperplanes leave
    most of the corpus in one bucket (see _signature_column);
    ``max_bucket_width`` caps degenerate buckets (recall trade)."""
    pairs = _banded_pairs(
        df, id_col, vec_col, bands, planes_per_band, dim,
        ordered=True, with_vectors=False,
        max_bucket_width=max_bucket_width, center=center,
    )
    return pairs.select(
        F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
    )


def lsh_near_dup_scored(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bands: int = 4,
    planes_per_band: int = 8,
    dim: int = 64,
    center: bool = False,
    max_bucket_width: int | None = None,
    blocked: bool | None = None,
) -> DataFrame:
    """``lsh_near_dup_candidates`` + exact cosine scored IN PLACE: vectors
    ride the one band shuffle (``with_vectors=True``) and each surviving
    in-bucket pair projects straight to ``(id_a, id_b, cosine)`` before
    anything is shuffled or written again.

    This is the high-candidate-volume form of the scale path: the
    candidates-then-rescore composition joins |candidates| × entries rows
    (at 100M candidates that join shuffles billions of rows — it exhausted
    this host's scratch disk at 60k docs × 16 bands), while this form's
    expansion stage is explode → filter → project with a 24-byte output
    row and NO post-expansion shuffle. Cost: ``bands`` copies of each
    dense vector through the single band-key exchange. For exact-integer
    vectors (hashed features) the cosine is bit-identical to
    ``sparse_cosine_pairs`` — both compute the same exact integer dot and
    norms (asserted in tests).

    ``blocked`` picks the expansion+scoring execution exactly like
    ``lsh_topk``'s (row-identical forms — the blocked one computes each
    bucket's cosine matrix in ``applyInPandas`` so vectors cross the
    Python boundary once per band, not once per candidate pair);
    ``None`` (default) is size-adaptive on the optimizer's estimate
    (``_resolve_blocked`` — non-integral ids keep the per-pair form)."""
    blocked = _resolve_blocked(df, id_col, blocked)
    if blocked:
        scored = _id_cast_back(
            _banded_pairs_scored_blocked(
                df, id_col, vec_col, bands, planes_per_band, dim,
                ordered=True, max_bucket_width=max_bucket_width, center=center,
            ),
            df, id_col, ("id_a", "id_b"),
        )
        # NaN >= threshold is TRUE under Spark comparison (NaN greatest),
        # identical to the per-pair form's filter on the same restored column
        return scored.where(F.col("cosine") >= F.lit(threshold))
    pairs = _banded_pairs(
        df, id_col, vec_col, bands, planes_per_band, dim,
        ordered=True, with_vectors=True,
        max_bucket_width=max_bucket_width, center=center,
    )
    return (
        pairs.select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            cosine_similarity(F.col("a.__v"), F.col("b.__v")).alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(threshold))
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self). The query side is
    broadcast; rank ties break on neighbor id for determinism."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    c = ensure_compute_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    j = c.crossJoin(F.broadcast(q)).where(F.col("neighbor_id") != F.col("query_id"))
    scored = j.select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("qv"), F.col("cv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _nearest_centroids(v: DataFrame, cent: DataFrame, nprobe: int = 1) -> DataFrame:
    """(vec_id, v, cluster_id) giving each vector's ``nprobe`` nearest
    centroids by cosine (ties -> lowest centroid id). The centroid table is
    tiny and always broadcast; output fan-out is nprobe rows per vector."""
    scored = v.crossJoin(F.broadcast(cent)).select(
        "vec_id", "v", "cluster_id",
        cosine_similarity(F.col("v"), F.col("cv")).alias("c_cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), F.asc("cluster_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= nprobe)
        .select("vec_id", "v", "cluster_id")
    )


def _stride_centroids(v: DataFrame, centroid_stride: int) -> DataFrame:
    """Deterministic centroid subset ``id % stride == 0`` -> (cluster_id, cv)."""
    return v.where(F.col("vec_id") % centroid_stride == 0).select(
        F.col("vec_id").alias("cluster_id"), F.col("v").alias("cv")
    )


def kmeans_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 37,
    iterations: int = 5,
    blocked: bool = False,
) -> DataFrame:
    """Deterministic k-means refinement of the stride centroid subset —
    the production centroid trainer the IVF docstring names. Pure
    DataFrame ops, no randomness:

    * init: the same ``id % stride == 0`` subset ``ivf_assign`` uses, so
      k and the cluster-id space are identical to the stride variant;
    * iterate: assign every vector to its nearest centroid (broadcast
      centroid table, one row_number per vector), then recompute each
      centroid as the element-wise mean of its members (posexplode ->
      per-(cluster, dim) avg -> array rebuild). Cosine ranking is
      scale-invariant, so the plain mean needs no re-normalization
      (spherical k-means direction update);
    * empty clusters keep their previous centroid;
    * ``localCheckpoint`` after each update truncates the otherwise
      exponentially-nesting lineage — the centroid table is k rows, so
      the checkpoint is control-plane sized.

    At 100 TB: each iteration is one broadcast-join scan of the corpus +
    one (cluster, dim)-keyed agg (dim x N rows through a single shuffle,
    map-side combined). Swap the full pass for a ``df.sample`` mini-batch
    when iteration cost dominates; kept full here for determinism."""
    v = ensure_compute_parallelism(df).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cent = _stride_centroids(v, centroid_stride)
    for _ in range(iterations):
        assigned = (
            _nearest_centroids_blocked(v, cent, 1)
            if blocked
            else _nearest_centroids(v, cent, 1)
        )
        means = (
            assigned.select("cluster_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster_id", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cluster_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("m")))),
                    lambda s: s.getField("m"),
                ).alias("cv")
            )
        )
        cent = (
            cent.select("cluster_id", F.col("cv").alias("prev"))
            .join(means, "cluster_id", "left")
            .select("cluster_id", F.coalesce("cv", "prev").alias("cv"))
            .localCheckpoint()
        )
    return cent


def ivf_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 37,
    centroids: DataFrame | None = None,
    blocked: bool = False,
) -> DataFrame:
    """Assign every vector to its nearest centroid (cosine, ties -> lowest
    centroid id). Default centroids are the deterministic subset
    ``id % stride == 0`` (the oracle-matched variant); pass
    ``centroids=kmeans_centroids(df)`` for the trained production index —
    the structure (tiny broadcast centroid table, one row_number per
    vector) is identical either way. ``blocked=True`` swaps in the
    row-identical matmul assignment (``_nearest_centroids_blocked``) for
    large centroid counts — at K=1000 the per-pair crossJoin form scores
    N x K rows, the blocked form touches the corpus exactly once.

    Returns (vec_id, v, cluster_id)."""
    v = ensure_compute_parallelism(df).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cent = centroids if centroids is not None else _stride_centroids(v, centroid_stride)
    if blocked:
        return _nearest_centroids_blocked(v, cent, 1)
    return _nearest_centroids(v, cent, 1)


def ivf_probes(
    df: DataFrame,
    probe_cond: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 37,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
    blocked: bool = False,
) -> DataFrame:
    """(vec_id, v, cluster_id) rows giving, for each vector matching
    ``probe_cond``, its ``nprobe`` nearest centroid cells (rank 1 = its
    storage cell). Centroids default to the stride subset drawn from the
    FULL input — the same set ``ivf_assign`` uses — so probe cells line
    up with storage cells; pass the same ``centroids`` to both for the
    trained variant. Output fan-out is nprobe rows per probed vector.
    ``blocked=True`` uses the matmul assignment (see ``ivf_assign``)."""
    v = ensure_compute_parallelism(df).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cent = centroids if centroids is not None else _stride_centroids(v, centroid_stride)
    if blocked:
        return _nearest_centroids_blocked(v.where(probe_cond), cent, nprobe)
    return _nearest_centroids(v.where(probe_cond), cent, nprobe)


def _ivf_pairs_scored_blocked(
    q: DataFrame,
    c: DataFrame,
    k: int,
) -> DataFrame:
    """Cell-blocked twin of ``ivf_topk``'s per-pair join + cosine: the same
    (query, neighbor, cosine) rows (self-pairs excluded, identical NULL/NaN
    contract), computed as one cosine matrix per IVF cell inside a
    cogrouped ``applyInPandas`` instead of shipping 2 x dim doubles per
    candidate pair through ArrowEvalPython.

    Why (guide §4.1 pass only needed columns / §8 decide on small rows):
    the per-pair form's scoring stage is O(candidate pairs) Arrow bytes —
    each pair row carries BOTH dense vectors across the Python boundary.
    Here each vector crosses once per cell it appears in (corpus: exactly
    once — storage cell; queries: nprobe times), riding the one cluster_id
    shuffle the plan already pays, and the stage emits 24-byte scalar rows.

    Per-cell partial top-k is EXACT for the downstream global window: a
    corpus vector is stored in exactly one cell, so a (query, neighbor)
    pair can appear in at most one cogroup — per-query best-k within the
    cell under the window's total order (cosine desc with NaN greatest and
    NULL least, ties neighbor_id asc) can never drop a row the global
    top-k needs (same argument as ``brute_force_topk_blocked``). Skipped
    below 4096 pairs where the lexsort costs more than the rows it saves
    (same measured threshold as ``_banded_pairs_scored_blocked``).

    ``_dim_order_cosine_block`` reproduces the per-pair fold's IEEE op
    sequence, so cosines are bit-identical, not approximately equal
    (pinned in tests/test_ann_blocked.py::test_ivf_topk_blocked_identical)."""
    kk = int(k)
    chunk_cells = _BLOCKED_CHUNK_CELLS

    def _score(qp: pd.DataFrame, cp: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int64"),
                "neighbor_id": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
                "__vnull": pd.Series(dtype="bool"),
            }
        )
        if len(qp) == 0 or len(cp) == 0:
            return empty
        qids = qp["query_id"].to_numpy(dtype=np.int64)
        nids = cp["neighbor_id"].to_numpy(dtype=np.int64)
        qv = qp["qv"].to_numpy()
        cv = cp["cv"].to_numpy()
        qvalid = np.array([v is not None for v in qv])
        cvalid = np.array([v is not None for v in cv])
        nc, nq = len(cp), len(qp)
        qi = np.nonzero(qvalid)[0]
        Qm = (
            np.vstack([np.asarray(qv[i], dtype=np.float64) for i in qi])
            if qi.size
            else None
        )
        # corpus-row-chunked scoring (r12): peak memory is chunk x nq cells,
        # not nc x nq — a hot cell can no longer OOM the worker. Per-chunk
        # partial top-k stays exact downstream: the union of per-chunk
        # partials is a SUPERSET of the per-cell partial, and the global
        # window re-ranks either way.
        step = max(1, chunk_cells // max(1, nq))
        out_q, out_n, out_cos, out_null = [], [], [], []
        for lo in range(0, nc, step):
            hi = min(lo + step, nc)
            cos = np.full((hi - lo, nq), np.nan, dtype=np.float64)
            rvalid = cvalid[lo:hi]
            if Qm is not None and rvalid.any():
                rv = np.nonzero(rvalid)[0]
                Cm = np.vstack(
                    [np.asarray(cv[lo + i], dtype=np.float64) for i in rv]
                )
                # [corpus_i, query_j] = the per-pair fold's cosine(qv_j,
                # cv_i): per-dim accumulation order is identical and the
                # denominator's operand swap is IEEE-commutative
                # multiplication; each pair is independent of the chunking
                cos[np.ix_(rv, qi)] = _dim_order_cosine_block(Cm, Qm)
            ali, bi = np.nonzero(nids[lo:hi][:, None] != qids[None, :])
            if ali.size == 0:
                continue
            ai = ali + lo
            pair_null = (~cvalid)[ai] | (~qvalid)[bi]
            key = cos[ali, bi]
            if ai.size > 4096:
                sk = np.where(np.isnan(key), np.inf, key)
                sk = np.where(pair_null, -np.inf, sk)
                order = np.lexsort((nids[ai], -sk, qids[bi]))
                grp = qids[bi][order]
                starts = np.r_[0, np.flatnonzero(np.diff(grp)) + 1]
                sizes = np.diff(np.r_[starts, order.size])
                pos = np.arange(order.size) - np.repeat(starts, sizes)
                keep = order[pos < kk]
                ai, bi, pair_null, key = ai[keep], bi[keep], pair_null[keep], key[keep]
            out_q.append(qids[bi])
            out_n.append(nids[ai])
            out_cos.append(key)
            out_null.append(pair_null)
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cosine": np.concatenate(out_cos),
                "__vnull": np.concatenate(out_null),
            }
        )

    raw = (
        q.groupBy("cluster_id")
        .cogroup(c.groupBy("cluster_id"))
        .applyInPandas(
            _score, "query_id long, neighbor_id long, cosine double, __vnull boolean"
        )
    )
    # cosine_similarity's contract: NULL vector -> NULL; any other NULL
    # coming back from Arrow is a squashed NaN and must be restored BEFORE
    # the window (Spark sorts NaN first under desc but NULL last)
    return raw.select(
        "query_id",
        "neighbor_id",
        F.when(F.col("__vnull"), F.lit(None).cast("double"))
        .otherwise(F.coalesce(F.col("cosine"), F.lit(float("nan"))))
        .alias("cosine"),
    )


def _ivf_pq_adc_blocked(
    q: DataFrame,
    stored: DataFrame,
    codebooks,
    rerank: int,
    residual: bool,
) -> DataFrame:
    """Cell-blocked twin of ``ivf_pq_topk``'s ADC stage: the same
    (query_id, neighbor_id, adc) candidate rows (self-pairs excluded,
    identical NULL semantics), computed per IVF cell inside a cogrouped
    ``applyInPandas`` instead of shipping the 64-double query vector on
    EVERY in-cell candidate row through the ADC Arrow UDF.

    Why (guide §4.1 pass only needed columns / §8 decide on small rows):
    the per-pair form's candidate stream is O(pairs) x (dim doubles +
    m codes) of Arrow traffic — the codes are tiny but the query vector
    rides every row. Here each query vector crosses the Python boundary
    once per probed cell (nprobe times total), each code row once, and
    the stage emits 24-byte scalar rows; the shortlist window's exchange
    then reads O(rerank x nprobe) rows per query instead of O(pairs).

    Per-cell partial top-``rerank`` is EXACT for the downstream global
    window: a candidate's codes live in exactly one storage cell, so a
    (query, neighbor) pair appears in at most one cogroup — per-query
    best-rerank within the cell under the window's total order (adc desc
    with NULL last, ties neighbor_id asc) can never drop a row the global
    shortlist needs (same argument as ``_ivf_pairs_scored_blocked``).
    Skipped below 4096 pairs (same measured per-group threshold).

    Exactness of the scores: ``_adc_cosine._score``'s IEEE op sequence is
    reproduced per query row — reconstruction gather (+ centroid for the
    residual form), ``(Q_row * R).sum(axis=1)`` (numpy pairwise sum over
    the dim axis is a pure per-row function, independent of batch
    composition), ``sqrt((.*.).sum(1))`` norms, one divide — so the adc
    doubles are bit-identical, not approximately equal. The per-pair form
    returns its scores through a pandas_udf whose Arrow conversion folds
    NaN into NULL (invalid rows AND genuine 0/0 scores), and desc-NULLS
    LAST sorts genuine ``-inf`` scores ABOVE those NULLs — the partial
    top-k's sort key keeps that distinction (isnull tier before value)
    and the emitted NaNs fold to NULL on the same Arrow path."""
    B = np.asarray(codebooks, dtype=np.float64)
    m, _k, sub = B.shape
    rr = int(rerank)
    chunk_cells = _BLOCKED_CHUNK_CELLS

    def _score(qp: pd.DataFrame, cp: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int64"),
                "neighbor_id": pd.Series(dtype="int64"),
                "adc": pd.Series(dtype="float64"),
            }
        )
        if len(qp) == 0 or len(cp) == 0:
            return empty
        qids = qp["query_id"].to_numpy(dtype=np.int64)
        nids = cp["neighbor_id"].to_numpy(dtype=np.int64)
        qv = qp["qv"].to_numpy()
        codes = cp["codes"].to_numpy()
        qvalid = np.array([v is not None for v in qv])
        cvalid = np.array([v is not None for v in codes])
        if residual:
            ccv = cp["__cc"].to_numpy()
            cvalid &= np.array([v is not None for v in ccv])
        nq, nc = len(qp), len(cp)
        qi = np.nonzero(qvalid)[0]
        Q = (
            np.vstack([np.asarray(qv[i], dtype=np.float64) for i in qi])
            if qi.size
            else None
        )
        qn = np.sqrt((Q * Q).sum(axis=1)) if Q is not None else None
        # corpus-row-chunked ADC (r12): the reconstruction matrix R and the
        # adc block are built per chunk — peak memory chunk x dim + nq x
        # chunk cells instead of nc x dim + nq x nc for a hot cell. The
        # per-chunk partial top-rerank unions to a SUPERSET of the per-cell
        # partial; the global shortlist window re-ranks either way.
        step = max(1, chunk_cells // max(1, nq, B.shape[2] * m))
        out_q, out_n, out_adc = [], [], []
        for lo in range(0, nc, step):
            hi = min(lo + step, nc)
            adc = np.full((nq, hi - lo), np.nan, dtype=np.float64)
            rvalid = cvalid[lo:hi]
            if Q is not None and rvalid.any():
                rv = np.nonzero(rvalid)[0]
                C = np.vstack(
                    [np.asarray(codes[lo + i], dtype=np.int64) for i in rv]
                )
                R = np.empty((rv.size, Q.shape[1]), dtype=np.float64)
                for j in range(m):
                    R[:, j * sub : (j + 1) * sub] = B[j][C[:, j]]
                if residual:
                    R += np.vstack(
                        [np.asarray(ccv[lo + i], dtype=np.float64) for i in rv]
                    )
                rn = np.sqrt((R * R).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    # one query row at a time: every pair's dot is the same
                    # per-row pairwise sum as the per-pair _score's, so the
                    # adc doubles are independent of the chunking
                    for t in range(Q.shape[0]):
                        adc[qi[t], rv] = (Q[t] * R).sum(axis=1) / (qn[t] * rn)
            bi, ali = np.nonzero(qids[:, None] != nids[lo:hi][None, :])
            if bi.size == 0:
                continue
            ai = ali + lo
            key = adc[bi, ali]
            if bi.size > 4096:
                isnull = np.isnan(key)
                sk = np.where(isnull, 0.0, key)
                order = np.lexsort((nids[ai], -sk, isnull, qids[bi]))
                grp = qids[bi][order]
                starts = np.r_[0, np.flatnonzero(np.diff(grp)) + 1]
                sizes = np.diff(np.r_[starts, order.size])
                pos = np.arange(order.size) - np.repeat(starts, sizes)
                keep = order[pos < rr]
                bi, ai, key = bi[keep], ai[keep], key[keep]
            out_q.append(qids[bi])
            out_n.append(nids[ai])
            out_adc.append(key)
        if not out_q:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "adc": np.concatenate(out_adc),
            }
        )

    return (
        q.groupBy("cluster_id")
        .cogroup(stored.groupBy("cluster_id"))
        .applyInPandas(_score, "query_id long, neighbor_id long, adc double")
    )


def ivf_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 37,
    query_stride: int = 50,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
    blocked: bool | None = None,
) -> DataFrame:
    """Approximate top-k via IVF multiprobe: queries (``id % query_stride``)
    search their ``nprobe`` nearest centroid cells; the corpus is stored
    once (top-1 cell). One shuffle on cluster_id; cells scan in parallel.
    Probing more cells multiplies only the query side's fan-out (queries
    are a small fraction of the corpus), closing most of the recall gap of
    nprobe=1 for vectors near cell boundaries. ``centroids`` (e.g. from
    ``kmeans_centroids``) swaps in a trained index; default stride subset
    stays the oracle-matched form.

    ``blocked`` picks the execution of BOTH centroid assignment and the
    in-cell scoring; the forms are row-identical (pinned in
    tests/test_ann_blocked.py):

    * ``True`` — matmul assignment (for large K) + cell-blocked scoring
      with per-cell partial top-k (``_ivf_pairs_scored_blocked``): each
      corpus vector crosses the Python boundary once, each query nprobe
      times, and the top-k window's exchange reads O(k x nprobe) rows per
      query instead of O(candidate pairs).
    * ``False`` — per-pair crossJoin assignment + per-pair in-cell cosine
      (cheaper while cells are small; the r11-measured per-group-overhead
      crossover is the same as ``lsh_topk``'s).
    * ``None`` (default) — size-adaptive on the optimizer's input-size
      estimate, same ``_LSH_BLOCKED_MIN_BYTES`` floor as
      ``lsh_topk`` (guide §3 pick-by-size; core-count-independent).
      Unknown size chooses blocked (scale-safe)."""
    blocked = _resolve_blocked(df, id_col, blocked)
    assigned = ivf_assign(
        df, id_col, vec_col, centroid_stride, centroids=centroids, blocked=blocked
    )
    q = ivf_probes(
        df,
        F.col("vec_id") % query_stride == 0,
        id_col,
        vec_col,
        centroid_stride,
        nprobe,
        centroids=centroids,
        blocked=blocked,
    ).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cluster_id")
    c = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), "cluster_id"
    )
    if blocked:
        scored = _ivf_pairs_scored_blocked(q, c, k)
    else:
        j = c.join(q, "cluster_id").where(F.col("neighbor_id") != F.col("query_id"))
        scored = j.select(
            "query_id", "neighbor_id", cosine_similarity(F.col("qv"), F.col("cv")).alias("cosine")
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
    if blocked:
        out = _id_cast_back(out, df, id_col, ("query_id", "neighbor_id"))
    return out


def lsh_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    planes_per_band: int = 8,
    dim: int = 64,
    max_bucket_width: int | None = None,
    blocked: bool | None = None,
) -> DataFrame:
    """Approximate top-k via banded LSH: candidates are pairs sharing ANY
    band key (OR over bands boosts recall; each band's groupBy shuffles on
    its own key, keyspace = bands * 2^planes_per_band). Signatures are
    computed once; each pair is emitted exactly once (first-matching-band
    rule — no pair-distinct shuffle) WITH both vectors riding along, so
    scoring is in-place: the whole query is scan -> one band-key shuffle ->
    expand+score -> one top-k window shuffle. (The previous plan paid a
    global pair distinct plus two shuffling joins back to the vector
    table.)

    ``blocked`` picks how the in-bucket expansion + cosine run; the two
    forms are row-identical (pinned in tests/test_r11_optimizations.py):

    * ``True`` — bucket-blocked inside the band groups
      (``_banded_pairs_scored_blocked``): each vector crosses the Python
      boundary once per band rather than once per candidate pair, and the
      per-bucket partial top-k shrinks the window exchange. The 100 TB
      shape: the band keyspace is FIXED (bands * 2^planes_per_band), so
      bucket width grows linearly with the corpus and candidate pairs
      quadratically, while the blocked form's per-group overhead stays
      constant — O(members * bands) Arrow bytes vs the per-pair form's
      O(pairs * 2 * dim).
    * ``False`` — codegen'd pair expansion with the cosine fold as one
      ArrowEvalPython projection: no per-group Python overhead, cheaper
      while buckets are small (the measured r11 crossover: ~1000 near-empty
      buckets at sf0.1 cost the blocked form ~0.4 s of per-group pandas
      overhead against ~73k candidate pairs whose Arrow bytes are trivial).
    * ``None`` (default) — size-adaptive: blocked iff the optimizer's
      input-size estimate reaches ``_LSH_BLOCKED_MIN_BYTES``
      (4 MiB — above every driver SF, below sf1's ~8 MiB; the
      guide §3 "pick the strategy by size" rule, data-dependent and
      core-count-independent). Unknown size chooses blocked (scale-safe;
      ``_resolve_blocked`` — non-integral ids keep the per-pair form).
    """
    blocked = _resolve_blocked(df, id_col, blocked)
    if blocked:
        pairs = _banded_pairs_scored_blocked(
            df, id_col, vec_col, bands, planes_per_band, dim,
            ordered=False, max_bucket_width=max_bucket_width,
            limit_per_id=k,
        )
        scored = pairs.select(
            F.col("id_a").alias("query_id"),
            F.col("id_b").alias("neighbor_id"),
            "cosine",
        )
    else:
        p = _banded_pairs(
            df, id_col, vec_col, bands, planes_per_band, dim,
            ordered=False, with_vectors=True,
            max_bucket_width=max_bucket_width,
        )
        scored = p.select(
            F.col("a.__id").alias("query_id"),
            F.col("b.__id").alias("neighbor_id"),
            cosine_similarity(F.col("a.__v"), F.col("b.__v")).alias("cosine"),
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
    if blocked:
        out = _id_cast_back(out, df, id_col, ("query_id", "neighbor_id"))
    return out


def _semantic_flags_blocked(
    assigned: DataFrame,
    threshold: float,
    max_cluster_width: int | None,
) -> DataFrame:
    """Cell-blocked twin of ``semantic_dedup``'s explode + per-pair cosine:
    identical (vec_id, cluster_id, kept) rows, computed as one cosine
    matrix per cell inside ``applyInPandas`` instead of materializing
    width x ref pair rows that each carry both dense vectors through
    ArrowEvalPython (guide §4.1 / §8 — the same discipline as the blocked
    LSH/IVF scorers; ``_dim_order_cosine_block`` keeps every cosine
    bit-identical to the per-pair fold).

    Exactness notes: Spark compares NaN GREATER than any double, so a
    zero-norm (NaN-cosine) pair flags as a duplicate in the per-pair form
    — reproduced here with ``(cos >= thr) | isnan(cos)``; NULL-vector
    pairs yield NULL cosine and never flag; the ``max_cluster_width``
    reference prefix is the same lowest-id member set (ids are unique by
    contract, so sorting ids equals the per-pair form's struct sort)."""
    thr = float(threshold)
    chunk_cells = _BLOCKED_CHUNK_CELLS
    cap = None if max_cluster_width is None else int(max_cluster_width)

    def _flags(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        vals = pdf["v"].to_numpy()
        valid = np.array([x is not None for x in vals])
        dup = np.zeros(n, dtype=bool)
        ref_mask = np.ones(n, dtype=bool)
        if cap is not None and n > cap:
            ref_mask[:] = False
            ref_mask[np.sort(np.argsort(ids, kind="stable")[:cap])] = True
        cidx = np.nonzero(valid & ref_mask)[0]
        vidx = np.nonzero(valid)[0]
        if vidx.size and cidx.size:
            Q = np.vstack([np.asarray(vals[i], dtype=np.float64) for i in cidx])
            ref_ids = ids[cidx]
            # member-row-chunked flags (r12): peak memory is chunk x refs
            # cells, not members x refs — a degenerate cell can no longer
            # OOM the worker; per-pair cosine bits are chunk-independent
            step = max(1, chunk_cells // max(1, cidx.size))
            for lo in range(0, vidx.size, step):
                sel = vidx[lo : lo + step]
                M = np.vstack([np.asarray(vals[i], dtype=np.float64) for i in sel])
                cos = _dim_order_cosine_block(M, Q)
                ge = (cos >= thr) | np.isnan(cos)  # Spark compares NaN greatest
                lower = ref_ids[None, :] < ids[sel][:, None]
                dup[sel] = (ge & lower).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster_id": pdf["cluster_id"].to_numpy(dtype=np.int64),
                "kept": ~dup,
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(
        _flags, "vec_id long, cluster_id long, kept boolean"
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 37,
    threshold: float = 0.45,
    centroids: DataFrame | None = None,
    max_cluster_width: int | None = None,
    blocked: bool | None = None,
) -> DataFrame:
    """Semantic deduplication over an embedding column (the SemDeDup shape,
    Abbas et al. 2023, arXiv:2303.09540): cluster the corpus, compare
    vectors ONLY within their cluster, and drop every vector that has a
    lower-id cluster-mate with cosine >= ``threshold`` (deterministic
    keep-lowest-id variant of the paper's keep-one-per-group rule).

    Returns (``vec_id``, ``cluster_id``, ``kept``) — one row per input
    vector; ``kept=false`` marks semantic duplicates to remove.

    Plan shape (single-branch — the assignment subtree is consumed once):
    nearest-centroid assignment (broadcast centroid table), groupBy
    cluster_id collecting members, in-bucket ordered-pair expansion, exact
    cosine on the ``b.id <= a.id`` half (self rows ride along so every
    member — including each cluster's minimum, which has no lower mate —
    survives the expansion; they can never flag since the flag requires a
    STRICTLY lower id), then one groupBy(vec_id) max(flag). Two shuffles
    total (cluster_id, vec_id); no self-join, no all-pairs.

    At 100 TB: comparisons are confined to cells of ~N/k vectors — raise
    the centroid count (lower ``centroid_stride``, or pass trained
    ``centroids=kmeans_centroids(df)``) to bound cell width; the paper
    runs k large for exactly this reason. ``max_cluster_width``
    deterministically caps the COMPARISON side of degenerate cells:
    every member still gets an output row, but only the ``N`` lowest-id
    members serve as dedup references (the same deterministic-cap trade
    as the LSH bucket cap — overflow members are checked against the
    capped prefix only, bounding the cell at N*width pairs instead of
    width^2). Cosine uses the Arrow-batched sequential fold, so the
    threshold decision is bit-identical to the DuckDB oracle.

    ``blocked`` picks the execution (row-identical forms, pinned in
    tests/test_r11_optimizations.py): ``True`` scores each cell as ONE
    cosine matrix in ``applyInPandas`` (``_semantic_flags_blocked``) —
    each vector crosses the Python boundary once instead of once per
    (member, reference) pair — and swaps the centroid assignment to the
    matmul path; ``False`` keeps the per-pair explode (cheaper while
    cells are small); ``None`` (default) is size-adaptive on the
    optimizer's input estimate, same floor as ``lsh_topk``
    (``_resolve_blocked`` — non-integral ids keep the per-pair form)."""
    blocked = _resolve_blocked(df, id_col, blocked)
    assigned = ivf_assign(
        df, id_col, vec_col, centroid_stride, centroids=centroids, blocked=blocked
    )
    if blocked:
        return _id_cast_back(
            _semantic_flags_blocked(assigned, threshold, max_cluster_width),
            df, id_col, ("vec_id", "cluster_id"),
        )
    mem = F.collect_list(F.struct(F.col("vec_id"), F.col("v")))
    if max_cluster_width is not None:
        ref = F.slice(F.sort_array(mem), 1, int(max_cluster_width))
        buckets = assigned.groupBy("cluster_id").agg(mem.alias("mem"), ref.alias("ref"))
    else:
        buckets = (
            assigned.groupBy("cluster_id")
            .agg(mem.alias("mem"))
            .withColumn("ref", F.col("mem"))
        )
    pairs = (
        buckets.select("cluster_id", F.explode("mem").alias("a"), "ref")
        .select("cluster_id", "a", F.explode("ref").alias("b"))
        .where(F.col("b.vec_id") <= F.col("a.vec_id"))
    )
    flag = (F.col("b.vec_id") < F.col("a.vec_id")) & (
        cosine_similarity(F.col("a.v"), F.col("b.v")) >= F.lit(threshold)
    )
    return (
        pairs.select(
            F.col("a.vec_id").alias("vec_id"),
            "cluster_id",
            flag.alias("__dup"),
        )
        .groupBy("vec_id", "cluster_id")
        .agg((~F.max("__dup")).alias("kept"))
    )


# ---------------------------------------------------------------- product quantization
def pq_codebooks(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 4,
    dim: int = 64,
    sample_stride: int = 7,
    sample_cap: int = 4096,
    iterations: int = 8,
):
    """Train product-quantization codebooks: split ``dim`` into ``m``
    subspaces and learn ``2**nbits`` centroids per subspace with
    deterministic Lloyd k-means on a bounded training sample.

    The sample is the ``id % sample_stride == 0`` subset, ordered by id and
    capped at ``sample_cap`` rows — a driver-side collect that is bounded
    BY CONSTRUCTION (same pattern FAISS uses: PQ codebooks are trained on
    a sample, never the corpus; at 100 TB the sample is the same few
    thousand rows). Init is the first k distinct sample subvectors per
    subspace; empty clusters keep their previous centroid; everything is
    float64 numpy with no RNG, so retraining reproduces the exact
    codebooks. Returns an (m, k, dim//m) ndarray — control-plane sized
    (m * k * sub floats), shipped to executors as a closure constant."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    k = 1 << nbits
    sub = dim // m
    rows = (
        df.where(F.col(id_col) % sample_stride == 0)
        .orderBy(F.col(id_col))
        .limit(sample_cap)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)  # (n, dim)
    if X.shape[0] < k:
        raise ValueError(f"sample of {X.shape[0]} rows cannot seed {k} centroids")
    books = np.empty((m, k, sub), dtype=np.float64)
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]  # (n, sub)
        # deterministic init: first k DISTINCT subvectors in id order
        seen, init = set(), []
        for row in S:
            key = row.tobytes()
            if key not in seen:
                seen.add(key)
                init.append(row)
                if len(init) == k:
                    break
        while len(init) < k:  # degenerate sample: duplicate last
            init.append(init[-1])
        C = np.array(init)
        for _ in range(iterations):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)  # (n, k)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j] = C
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes) with ``codes`` an array of m small ints — the PQ
    compression step: m*nbits bits per vector instead of dim*32 (e.g.
    64-dim float32 -> 8 nibbles = 64x smaller). Arrow-batched numpy
    argmin per subspace; deterministic given the codebooks, invariant to
    partitioning (tested)."""
    from pyspark.sql.functions import pandas_udf

    B = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub)
    m, _k, sub = B.shape

    @pandas_udf("array<int>")
    def _enc(v: pd.Series) -> pd.Series:
        out = pd.Series([None] * len(v), dtype=object)
        valid = v.notna()
        if not valid.any():
            return out
        M = np.vstack(v[valid].to_numpy()).astype(np.float64)  # (n, dim)
        n = M.shape[0]
        codes = np.empty((n, m), dtype=np.int32)
        for j in range(m):
            S = M[:, j * sub : (j + 1) * sub]
            d2 = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1)
        # positional rebuild: masked assignment of list values makes pandas
        # try to ALIGN the nested lists with the mask and throws
        it = iter(codes)
        out = pd.Series(
            [next(it).tolist() if ok else None for ok in valid.to_numpy()],
            dtype=object,
        )
        return out

    return df.select(F.col(id_col).alias("vec_id"), _enc(F.col(vec_col).cast("array<double>")).alias("codes"))


def _adc_cosine(codebooks, residual: bool = False) -> "callable":
    """Asymmetric-distance scoring: cosine(query, RECONSTRUCTED candidate)
    — the query stays exact, the candidate is its codebook reconstruction
    (equivalent to the classic per-query LUT sum for dot products, but
    batch-vectorized: gather the m centroid rows per candidate, flatten,
    one fused cosine). Arrow-batched; no join back to the raw vectors.

    ``residual=True`` returns a 3-arg scorer (query, codes, cell_centroid):
    the reconstruction is cell_centroid + decoded residual — the FAISS
    IVFPQ form, where codes quantize (vector − assigned centroid)."""
    from pyspark.sql.functions import pandas_udf

    B = np.asarray(codebooks, dtype=np.float64)
    m, _k, sub = B.shape

    def _score(q: pd.Series, codes: pd.Series, cc: pd.Series | None) -> pd.Series:
        out = pd.Series([None] * len(q), dtype="float64")
        valid = q.notna() & codes.notna()
        if cc is not None:
            valid &= cc.notna()
        if not valid.any():
            return out
        Q = np.vstack(q[valid].to_numpy()).astype(np.float64)  # (n, dim)
        C = np.vstack(codes[valid].to_numpy()).astype(np.int64)  # (n, m)
        R = np.empty_like(Q)
        for j in range(m):
            R[:, j * sub : (j + 1) * sub] = B[j][C[:, j]]
        if cc is not None:
            R += np.vstack(cc[valid].to_numpy()).astype(np.float64)
        dot = (Q * R).sum(axis=1)
        den = np.sqrt((Q * Q).sum(axis=1)) * np.sqrt((R * R).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            out[valid.to_numpy()] = dot / den
        return out

    if residual:

        @pandas_udf("double")
        def _adc_res(q: pd.Series, codes: pd.Series, cc: pd.Series) -> pd.Series:
            return _score(q, codes, cc)

        return _adc_res

    @pandas_udf("double")
    def _adc(q: pd.Series, codes: pd.Series) -> pd.Series:
        return _score(q, codes, None)

    return _adc


def ivf_pq_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    nbits: int = 4,
    centroid_stride: int = 37,
    query_stride: int = 50,
    nprobe: int = 2,
    rerank: int = 32,
    centroids: DataFrame | None = None,
    codebooks=None,
    blocked: bool | None = None,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ approximate nearest neighbors — the memory-bounded scale
    path for billion-vector search (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011; the FAISS IVFPQ layout):

    * corpus vectors live in IVF cells as m-byte PQ codes (64x smaller
      than float32 at the defaults) — the raw vectors are only touched
      for the final ``rerank`` candidates per query;
    * queries probe ``nprobe`` cells and score candidates by asymmetric
      distance (exact query x reconstructed candidate) — no shuffle of
      raw corpus vectors, the candidate stream carries only codes;
    * the top-``rerank`` per query re-rank by EXACT cosine via one
      bounded join back to the vector table, restoring exact ordering
      within the candidate set (with rerank >= cell population this
      equals plain ``ivf_topk`` row-for-row — tested).

    At 100 TB: the PQ-coded index is ~1.5% the corpus size, cells scan
    in parallel after one shuffle on cluster_id, ADC is an
    embarrassingly-parallel Arrow map, and the exact re-rank joins
    queries x rerank rows — tiny. Recall tunes with (nprobe, rerank);
    memory with (m, nbits).

    ``residual=True`` quantizes (vector − assigned-cell centroid) instead
    of the raw vector — the standard FAISS IVFPQ form. On head-dominated
    vectors (e.g. hashed term counts) the shared head mass lands in the
    centroid and the PQ codes spend their bits on what DIFFERS between
    cell members, breaking the code ties that collapse raw-vector ADC
    (measured: recall@10 0.86 -> ~0.99 at 1M on hashed-count vectors,
    tools/ann_cert.py). Costs one extra broadcast join against the (tiny)
    centroid table on the encode and scoring paths; candidate
    reconstruction adds the centroid back before the cosine.

    ``blocked`` picks the execution of the centroid assignments AND the
    ADC scoring stage; the forms are row-identical (pinned in
    tests/test_ann_blocked.py::test_ivf_pq_blocked_identical):

    * ``True`` — matmul assignment + cell-blocked ADC with per-cell
      partial top-``rerank`` (``_ivf_pq_adc_blocked``): each query vector
      crosses the Python boundary nprobe times instead of riding every
      candidate row, and the shortlist window's exchange reads
      O(rerank x nprobe) rows per query instead of O(pairs).
    * ``False`` — per-pair join + ADC Arrow UDF (cheaper while cells are
      small — the same measured per-group-overhead crossover as
      ``lsh_topk``'s).
    * ``None`` (default) — size-adaptive on the optimizer's input-size
      estimate, same ``_LSH_BLOCKED_MIN_BYTES`` floor as the
      other ANN paths. Unknown size chooses blocked (scale-safe;
      ``_resolve_blocked`` — non-integral ids keep the per-pair form)."""
    blocked = _resolve_blocked(df, id_col, blocked)
    v_all = ensure_compute_parallelism(df).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cent = (
        centroids
        if centroids is not None
        else _stride_centroids(v_all, centroid_stride)
    )
    assigned = ivf_assign(
        df, id_col, vec_col, centroid_stride, centroids=cent, blocked=blocked
    )
    if residual:
        res = assigned.join(
            F.broadcast(cent.withColumnRenamed("cv", "__cc")), "cluster_id"
        ).select(
            "vec_id",
            F.zip_with("v", "__cc", lambda x, y: x - y).alias("rv"),
            "cluster_id",
        )
        if codebooks is None:
            codebooks = pq_codebooks(res, "vec_id", "rv", m=m, nbits=nbits, dim=dim)
        codes = pq_encode(res, codebooks, "vec_id", "rv")
    else:
        if codebooks is None:
            codebooks = pq_codebooks(df, id_col, vec_col, m=m, nbits=nbits, dim=dim)
        codes = pq_encode(df, codebooks, id_col, vec_col)
    stored = assigned.select("vec_id", "cluster_id").join(codes, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"), "cluster_id", "codes"
    )
    if residual:
        # each candidate's cell centroid rides along for the reconstruction
        stored = stored.join(
            F.broadcast(cent.withColumnRenamed("cv", "__cc")), "cluster_id"
        )
    q = ivf_probes(
        df,
        F.col("vec_id") % query_stride == 0,
        id_col,
        vec_col,
        centroid_stride,
        nprobe,
        centroids=cent,
        blocked=blocked,
    ).select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cluster_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    if blocked:
        part = _ivf_pq_adc_blocked(q, stored, codebooks, rerank, residual)
        # the exact re-rank needs qv back; one row per query (the probe
        # fan-out q carries nprobe duplicates), shortlist-bounded join
        qtab = v_all.where(F.col("vec_id") % query_stride == 0).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
        shortlist = (
            part.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= rerank)
            .join(qtab, "query_id")
        )
    else:
        adc = _adc_cosine(codebooks, residual=residual)
        score = (
            adc(F.col("qv"), F.col("codes"), F.col("__cc"))
            if residual
            else adc(F.col("qv"), F.col("codes"))
        )
        cand = (
            stored.join(q, "cluster_id")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "qv", "neighbor_id", score.alias("adc"))
        )
        shortlist = cand.withColumn("__r", F.row_number().over(w)).where(
            F.col("__r") <= rerank
        )
    vecs = ensure_compute_parallelism(df).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    )
    exact = shortlist.join(vecs, "neighbor_id").select(
        "query_id", "neighbor_id", cosine_similarity(F.col("qv"), F.col("cv")).alias("cosine")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    out = (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
    if blocked:
        out = _id_cast_back(out, df, id_col, ("query_id", "neighbor_id"))
    return out


# ------------------------------------------------------------ embedding prep
def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = clamp(round_half_up(x_i / scale), ±127)`` — the standard
    storage/bandwidth reducer before ANN indexing (4x smaller than f32,
    8x than f64; IVF/LSH recall loss is negligible at 8 bits).

    One elementwise projection, no shuffle, no Python. Every step is
    IEEE-exact (float→double widening, double divide, floor) so the
    DuckDB oracle computes bit-identical q-vectors; round-half-up is
    spelled ``floor(x + 0.5)`` because the engines' ``round`` tie rules
    differ. An all-zero vector quantizes to zeros with scale 0.

    The max is computed in its own projection and REFERENCED inside the
    transform lambda: higher-order functions are interpreted (no codegen
    subexpression elimination inside the lambda), so inlining the
    array_max expression there re-evaluates it per ELEMENT — O(d²) per
    row, measured ~4x slower at d=64.
    """
    m = f"array_max(transform({vec_col}, x -> abs(cast(x as double))))"
    with_m = df.select(F.col(id_col), F.col(vec_col), F.expr(m).alias("__m"))
    qvec = F.expr(
        f"transform({vec_col}, x -> CASE WHEN __m = 0.0d THEN 0 ELSE "
        f"cast(greatest(cast(-127 as bigint), least(cast(127 as bigint), "
        f"cast(floor(cast(x as double) / (__m / 127.0d) + 0.5d) as bigint))) as int) END)"
    )
    return with_m.select(
        F.col(id_col),
        (F.col("__m") / F.lit(127.0)).alias("scale"),
        qvec.alias("qvec"),
    )


# Deterministic ±1 projection sign for (input dim i, output dim j): parity
# of a mixed congruential hash. Identical integer arithmetic is embedded in
# the DuckDB oracle — keep the three constants in sync with
# verification.ext_queries.SQL_RANDOM_PROJECTION.
_RP_SIGN = "(1 - 2 * ((i * 40503 + j * 9973 + i * j * 65537) % 97 % 2))"


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    in_dim: int = 64,
    out_dim: int = 8,
    impl: str = "arrow",
) -> DataFrame:
    """Signed random projection to ``out_dim`` dims over fixed-point inputs
    (Achlioptas-style ±1 matrix) — the cheap dimensionality reducer ahead
    of clustering / LSH when 64-float embeddings are still too wide.

    Inputs are first fixed-pointed (``s_i = round_half_up(x_i * 1000)`` as
    int64) so the projection is pure integer math: bit-exact across
    engines AND across summation orders, which float dot products are not.
    The ±1 matrix entry for (i, j) is the parity of a mixed congruential
    hash of (i, j) — deterministic, never materialized.

    ``impl="arrow"`` (default, the scale path) computes all vectors in a
    batched numpy int64 matmul inside ``mapInPandas`` — Spark's
    higher-order ``aggregate``/``transform`` are CodegenFallback
    (interpreted per element), and a D×J matmul per row is exactly the
    shape vectorization wins; justified per the UDF policy. ``impl="expr"``
    is the pure-SQL twin used to cross-check the Arrow path (equivalence
    test) and to generate the oracle spec. Output: one row per
    (``vec_id``, projection dim ``j``) with integer component ``y`` — no
    shuffle either way; partition-local projection.
    """
    if impl == "expr":
        yvec = F.expr(
            f"transform(sequence(0, {out_dim - 1}), j -> "
            f"aggregate(sequence(0, {in_dim - 1}), cast(0 as bigint), (acc, i) -> "
            f"acc + cast({_RP_SIGN} as bigint) * "
            f"cast(floor(cast(element_at({vec_col}, i + 1) as double) * 1000.0d + 0.5d) as bigint)))"
        )
        return df.select(F.col(id_col), F.posexplode(yvec).alias("j", "y"))
    if impl != "arrow":
        raise ValueError(f"impl must be 'arrow' or 'expr': {impl!r}")
    i_idx = np.arange(in_dim).reshape(-1, 1)
    j_idx = np.arange(out_dim).reshape(1, -1)
    signs = 1 - 2 * ((i_idx * 40503 + j_idx * 9973 + i_idx * j_idx * 65537) % 97 % 2)
    signs = signs.astype(np.int64)  # (in_dim, out_dim)

    src = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    out_schema = f"{id_col} long, j int, y long"

    def _project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float32) for v in pdf["__v"]],
                dtype=np.float32,
            ).astype(np.float64)
            s = np.floor(x * 1000.0 + 0.5).astype(np.int64)  # (n, in_dim)
            y = s @ signs  # (n, out_dim) int64 exact
            n = len(pdf)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf["__id"].to_numpy(), out_dim),
                    "j": np.tile(np.arange(out_dim, dtype=np.int32), n),
                    "y": y.reshape(-1),
                }
            )

    return ensure_compute_parallelism(src).mapInPandas(_project, out_schema)


def hashed_feature_entries(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    ngram: int = 1,
    hash_distinct: bool | None = None,
) -> DataFrame:
    """Feature hashing (the "hashing trick", Weinberger et al. 2009) in
    LONG FORM: each token maps to ``bucket = sha256(token)[:6 hex] % dim``
    with a ±1 sign from an independent hash nibble (signs unbias collision
    noise), and the (doc, bucket) weight is the exact signed token count —
    all integers, so the DuckDB oracle reproduces it bit-for-bit. This is
    the text→vector bridge: raw documents become ANN-ready vectors with
    no external embedding model.

    ``ngram > 1`` hashes word n-gram SHINGLES instead of unigrams (same
    ``dedup.shingles`` windows MinHash uses). For near-duplicate work
    this is the standard move: unigram counts on a Zipfian vocabulary
    are dominated by the shared head tokens, so unrelated documents
    already sit at cosine ~0.85+ and similarity carries no signal —
    measured in tools/text_near_dup_cert.py, where unigram features made
    candidate generation quadratic while bigram features separate
    planted near-dups (cosine graded by edit rate) from a ~0 background.

    Plan (r11): explode tokens -> hash as a pure projection -> ONE
    (doc, bucket) sum shuffle with map-side combine. The previous form
    aggregated (doc, token) term frequencies first and hashed the distinct
    pairs — that saved sha256 calls but paid a FULL extra shuffle whose
    rows carry the token strings themselves; this form's only shuffle
    moves partial (doc, bucket, weight) sums, bounded by dim rows per doc
    per map partition regardless of vocabulary (guide §2.3 aggregate
    before you shuffle / shuffle keys not payloads). The signed integer
    sum is associative, so weight = Σ_occurrences sign(token) equals the
    old Σ_tokens sign(token)·tf exactly.

    ``hash_distinct`` (r11) mirrors ``dedup.simhash``'s knob: ``True``
    runs sha256 over the corpus-distinct token/shingle VOCABULARY and
    joins (bucket, sign) back to the occurrence stream (AQE broadcasts
    the vocab side when it fits) — bit-identical, because the per-(doc,
    bucket) weight is the same integer sum of per-occurrence signs either
    way (equivalence-tested). It trades one extra map-side-deduped
    distinct stage for hashing vocab-many rows instead of
    occurrence-many; sha256+conv per occurrence dominates this operator,
    so the win is the biggest of the three vocab knobs. Measured (r11,
    local[32], vocab-hashing probe at commit 4dd3b77): 1.8-2.1x above ~2M
    occurrences on constant-vocabulary replication, 2.2-2.7x above ~11M on
    growing-vocabulary (token-salted sf1) replicas — and a loss below
    ~3M there, so the floor sits where BOTH geometries favored vocab.
    ``None`` (default) resolves by the optimizer's input-size estimate
    (floor ``dedup.HASH_DISTINCT_FLOOR``); unknown size chooses the vocab
    path (scale-safe).
    Output: (id_col, bucket, weight)."""
    from .dedup import HASH_DISTINCT_FLOOR, shingles
    from .text import tokens

    hash_distinct = size_adaptive_flag(df, hash_distinct, HASH_DISTINCT_FLOOR)
    unit = (
        tokens(text_col) if ngram <= 1 else shingles(text_col, ngram)
    )
    tok = df.select(F.col(id_col), F.explode(unit).alias("token"))
    h = F.sha2(F.col("token"), 256)
    bucket = (F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % dim).alias(
        "bucket"
    )
    sign = (
        F.lit(1)
        - F.lit(2) * (F.conv(F.substring(h, 7, 1), 16, 10).cast("long") % 2)
    ).cast("long")
    if hash_distinct:
        vocab = (
            tok.select("token")
            .distinct()
            .select(F.col("token"), bucket, sign.alias("__w"))
        )
        entries = tok.join(vocab, "token").select(
            F.col(id_col), F.col("bucket"), F.col("__w")
        )
    else:
        entries = tok.select(F.col(id_col), bucket, sign.alias("__w"))
    return (
        entries.groupBy(id_col, "bucket")
        .agg(F.sum("__w").alias("weight"))
    )


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    ngram: int = 1,
) -> DataFrame:
    """Dense ``array<double>`` form of ``hashed_feature_entries`` — drop-in
    input for the similarity family (brute_force_topk / LSH / IVF /
    quantize_embeddings / random_projection all take an array column).
    Values are exact integer counts widened to double (lossless up to
    2^53), so two engines — and two partitionings — produce identical
    vectors. ``ngram`` as in ``hashed_feature_entries``."""
    return _dense_from_entries(
        hashed_feature_entries(df, text_col, id_col, dim, ngram), id_col, dim
    )


def _dense_from_entries(entries: DataFrame, id_col: str, dim: int) -> DataFrame:
    """(id, bucket, weight) long form -> (id, features array<double>).
    The bucket map is built ONCE per row in the aggregate and the dense
    transform reads it in a following select — nesting map_from_entries
    inside the transform lambda would rebuild the map per ELEMENT
    (interpreted HOF, O(dim·k) per doc instead of O(dim+k))."""
    m = entries.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("bucket").cast("int").alias("k"),
                    F.col("weight").alias("v"),
                )
            )
        ).alias("__m")
    )
    return m.select(
        id_col,
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("__m"), i.cast("int")), F.lit(0)
            ).cast("double"),
        ).alias("features"),
    )


def sparse_cosine_pairs(
    entries: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.9,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """All-pairs cosine over SPARSE vectors in long form (``id, bucket,
    weight`` — e.g. ``hashed_feature_entries`` output): the relational
    sparse-similarity join. Dot products come from one equi-join on
    bucket (only shared buckets pair — zero terms never materialize),
    norms from one per-id aggregate, cosine = dot / (na*nb).

    With INTEGER-valued weights every sum is exact in double (no rounding
    below 2^53 → order-independent), so the result is bit-portable across
    engines and partitionings — unlike float-embedding cosine, which
    needs the IEEE-fold UDF (`dedup.cosine_similarity`).

    This is the verification/baseline form: the bucket join is quadratic
    in documents when vectors are DENSE in the hashed space (a tiny
    vocabulary fills every bucket — measured ~97 s for 5k docs at dim
    64). The scale path feeds the same vectors through the banded-LSH
    candidate machinery and re-scores only candidates; genuinely sparse
    corpora (real vocabularies, dim >> 64) keep the join selective.
    ``candidates`` (an (id_a, id_b) DataFrame, id_a < id_b — e.g.
    ``lsh_near_dup_candidates`` output) restricts scoring to the given
    pairs: the scale path is this same function composed behind a
    candidate generator, so baseline and scaled results agree by
    CONSTRUCTION, not by parallel implementations.

    Zero-norm documents (all signed weights cancelled) have no direction
    and are excluded — without the guard Spark's 0/0 is NULL (dropped)
    while DuckDB's is NaN, which its total order ranks ABOVE any
    threshold. Pairs sharing no bucket have cosine exactly 0 and are
    only representable for threshold > 0 (the join never materializes
    zero terms). Output: (id_a, id_b, cosine) with id_a < id_b,
    cosine >= threshold."""
    e = entries.select(
        F.col(id_col).alias("__id"),
        F.col("bucket"),
        F.col("weight").cast("double").alias("__w"),
    )
    norms = e.groupBy("__id").agg(
        F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__n")
    ).where(F.col("__n") > 0)
    a = e.select(F.col("__id").alias("id_a"), "bucket", F.col("__w").alias("wa"))
    b = e.select(F.col("__id").alias("id_b"), "bucket", F.col("__w").alias("wb"))
    if candidates is not None:
        # candidate-bounded: each pair joins its two entry lists directly,
        # so dot work is ∝ |candidates| · dim — NOT the all-pairs bucket
        # join filtered afterwards (which would still expand every
        # co-bucket combination before discarding non-candidates)
        dots = (
            candidates.join(a, "id_a")
            .join(b, ["id_b", "bucket"])
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("wa") * F.col("wb")).alias("__dot"))
        )
    else:
        dots = (
            a.join(b, "bucket")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("wa") * F.col("wb")).alias("__dot"))
        )
    na = norms.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
    nb = norms.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("__dot") / (F.col("__na") * F.col("__nb"))).alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(threshold))
    )


def text_near_dup_scaled(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    threshold: float = 0.9,
    bands: int | str = 8,
    planes_per_band: int = 8,
    center: bool = True,
    max_bucket_width: int | None = None,
    ngram: int = 1,
    recall_target: float = 0.95,
    score: str = "in_place",
) -> DataFrame:
    """The SCALE path for text near-duplicates over hashed features:
    banded-LSH candidate generation (one band-key shuffle, never
    all-pairs) with the exact cosine computed for every surviving
    in-bucket pair. Recall < 1 by LSH design (tune ``bands`` up);
    precision exact (every emitted pair carries its true cosine).
    Fixture-level recall and exact-cosine agreement vs the all-pairs
    baseline are asserted in tests/test_ext_operators.py.

    ``center=True`` (default) uses mean-centered projections for the
    candidate stage: hashed text-count vectors are all-nonnegative, and
    on a realistic Zipfian vocabulary origin-through sign-LSH collapses
    the corpus into a handful of buckets (quadratic expansion, recall
    via luck). Certified on a 50k-vocab Zipf corpus with planted
    near-dup clusters in tools/text_near_dup_cert.py / BASELINE.md.
    Scored cosines are raw either way — centering never changes a
    result value, only which candidate pairs are surfaced.

    ``bands="auto"`` sizes (bands, planes_per_band) from the closed-form
    sign-LSH bound (``lsh_plan(threshold, recall_target)``): recall at the
    threshold is bought with more, NARROWER bands, keeping the expected
    background-collision rate at or below the bands=8/ppb=8 default — the
    fix for the low-similarity band (0.85–0.90) where widening via
    bands=16/ppb=8 went quadratic. Diagnose a corpus's bucket layout
    first with ``lsh_bucket_stats``.

    ``score`` picks where the exact cosine happens. ``"in_place"`` (the
    default) is ``lsh_near_dup_scored``: cosine computed during the band
    expansion itself — the pair never leaves its expansion stage, the
    only shuffle is the n·bands band-key exchange (~500 MB at 60k docs ×
    8 bands × dim 64). ``"sparse"`` is the candidates-then-
    ``sparse_cosine_pairs(candidates=)`` composition — kept as the
    cross-verification twin (results are BIT-identical on integer hashed
    features: same exact integer dots/norms, same IEEE ops — asserted in
    tests) and for very large ``dim`` where carrying dense vectors
    through the band shuffle would dominate. It is NOT the scale default
    because the |candidates| × entries re-score join spills quadratically
    in candidate volume: at 60k docs / threshold 0.85 / bands=8 it wrote
    90 GB of shuffle scratch where the in-place form needs none
    (measured, tools/text_near_dup_cert.py r7)."""
    if bands == "auto":
        bands, planes_per_band = lsh_plan(threshold, recall_target)
    if score not in ("sparse", "in_place"):
        raise ValueError(f"score must be 'sparse' or 'in_place': {score!r}")
    entries = hashed_feature_entries(docs, text_col, id_col, dim, ngram).persist()
    try:
        dense = _dense_from_entries(entries, id_col, dim)
        if score == "in_place":
            out = lsh_near_dup_scored(
                dense, id_col=id_col, vec_col="features", threshold=threshold,
                bands=bands, planes_per_band=planes_per_band, dim=dim,
                center=center, max_bucket_width=max_bucket_width,
            )
        else:
            cand = lsh_near_dup_candidates(
                dense, id_col=id_col, vec_col="features",
                bands=bands, planes_per_band=planes_per_band, dim=dim,
                center=center, max_bucket_width=max_bucket_width,
            )
            out = sparse_cosine_pairs(entries, id_col, threshold, candidates=cand)
        # materialization boundary: entries is persisted only inside this
        # call, so force the result before releasing it
        return out.localCheckpoint(eager=True)
    finally:
        entries.unpersist()


# ----------------------------------------------------- blocked matmul paths
def _collect_query_matrix(
    q: DataFrame, max_queries: int = 100_000
) -> tuple[np.ndarray, np.ndarray]:
    """Bounded driver collect of a (vec_id, v) query frame -> (ids, Q).

    The query set of a top-k batch job is control-plane sized by contract
    (it is broadcast into every task closure); the cap turns "someone
    passed the corpus as the query side" into an immediate error instead
    of a driver OOM."""
    rows = q.limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        raise ValueError(
            f"query set exceeds max_queries={max_queries}; blocked top-k "
            "broadcasts the query matrix — pass a bounded query set"
        )
    if not rows:
        raise ValueError("empty query set")
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    Q = np.vstack([np.asarray(r[1], dtype=np.float64) for r in rows])
    return ids, Q


def _dim_order_cosine_block(M: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(n x dim) corpus block x (q x dim) queries -> (n x q) cosine matrix
    with the EXACT IEEE op sequence of ``_seq_cosine_udf``: dots and norms
    accumulate per ascending dimension (separate multiply then add — numpy
    emits no FMA here), result ``dot / (sqrt(nq) * sqrt(nc))``.
    Multiplication is IEEE-commutative, so the denominator operand order
    cannot differ from the per-pair fold. Bit-identical results mean the
    blocked operators below are row-identical to their per-pair twins, not
    merely approximately equal (tested in tests/test_ann_blocked.py)."""
    n, q = M.shape[0], Q.shape[0]
    dot = np.zeros((n, q), dtype=np.float64)
    nc = np.zeros(n, dtype=np.float64)
    nq = np.zeros(q, dtype=np.float64)
    for i in range(M.shape[1]):
        ci = M[:, i]
        qi = Q[:, i]
        dot += ci[:, None] * qi[None, :]
        nc += ci * ci
        nq += qi * qi
    return dot / (np.sqrt(nq)[None, :] * np.sqrt(nc)[:, None])


def brute_force_topk_blocked(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: Column | None = None,
    query_stride: int = 50,
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k at corpus scale — the matmul-blocked twin of
    ``brute_force_topk`` and the ground-truth generator for the ANN
    certification (tools/ann_cert.py).

    ``brute_force_topk`` materializes |queries| x |corpus| pair ROWS, each
    carrying both vectors through the plan — correct, but Arrow-transfer
    bound beyond ~10^7 pairs. Here the query matrix (bounded driver
    collect, broadcast in the task closure) meets the corpus in ONE
    ``mapInPandas`` pass: each Arrow batch computes its (batch x queries)
    cosine block as ``dim`` vectorized accumulate steps (the IEEE op order
    of the per-pair fold — see ``_dim_order_cosine_block``) and emits only
    its per-query top-k partial rows, so the shuffle after the scan is
    |queries| x k x num_batches rows of three scalars. The final window
    re-ranks partials globally; partial top-k under the same total order
    (cosine desc, NaN greatest like Spark, id asc) is exact.

    At 100 TB: no shuffle of the corpus at all — one scan, an
    embarrassingly-parallel map, and a tiny top-k reduction. This is the
    certified-exact baseline every ANN path in this module is measured
    against."""
    v = ensure_compute_parallelism(df).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    pred = query_pred if query_pred is not None else F.col("vec_id") % query_stride == 0
    qids, Q = _collect_query_matrix(v.where(pred), max_queries)
    kk = int(k)

    def _partials(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            M = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            cos = _dim_order_cosine_block(M, Q)
            # Spark's desc ordering treats NaN as greater than any double;
            # mirror it in the sort key (output keeps the true NaN value)
            key = np.where(np.isnan(cos), np.inf, cos)
            out_q, out_n, out_c = [], [], []
            for j in range(Q.shape[0]):
                col = key[:, j]
                mask = ids != qids[j]  # exclude self
                cand = np.nonzero(mask)[0]
                if cand.size == 0:
                    continue
                # total order: cosine desc, id asc — lexsort's last key is
                # primary
                order = cand[np.lexsort((ids[cand], -col[cand]))][:kk]
                out_q.append(np.full(order.size, qids[j], dtype=np.int64))
                out_n.append(ids[order])
                out_c.append(cos[order, j])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "cosine": np.concatenate(out_c),
                    }
                )

    partials = v.mapInPandas(
        _partials, "query_id long, neighbor_id long, cosine double"
    )
    # Arrow folds float64 NaN into NULL on the way back from the map (same
    # gotcha as cosine_similarity); a NULL here can only be a squashed NaN
    # (null vectors never reach the block), and it must be restored BEFORE
    # the window — Spark sorts NaN first under desc but NULL last
    partials = partials.withColumn(
        "cosine", F.coalesce("cosine", F.lit(float("nan")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= kk)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _nearest_centroids_blocked(
    v: DataFrame, cent: DataFrame, nprobe: int = 1, max_centroids: int = 1_000_000
) -> DataFrame:
    """Matmul twin of ``_nearest_centroids`` for LARGE centroid tables.

    The per-pair form crossJoins corpus x centroids — N x K scored rows,
    fine at the fixture's K≈30 but 10^9 rows at (1M vectors, K=1000).
    Here the centroid matrix (one bounded collect — K rows is the index's
    control plane, exactly what FAISS holds in RAM) rides the closure and
    each Arrow batch computes its (batch x K) cosine block in the fold's
    IEEE op order, then takes its ``nprobe`` best cells with the identical
    tie rule (cosine desc, NaN greatest, lowest cluster_id) via a stable
    argsort over id-ascending columns. Row-identical to the per-pair form
    (tests/test_ann_blocked.py); output fan-out is nprobe rows per vector,
    and the corpus is never shuffled."""
    crows = cent.orderBy("cluster_id").limit(max_centroids + 1).collect()
    if len(crows) > max_centroids:
        raise ValueError("centroid table exceeds max_centroids")
    cids = np.array([r["cluster_id"] for r in crows], dtype=np.int64)
    # NULL centroids (possible when the stride subset hits a NULL vector)
    # score NULL against everything in the per-pair form — NULL sorts LAST
    # under the window's cosine desc (below NaN, which sorts first), ties
    # by cluster_id asc. Encode that as a -inf key column.
    cvalid = np.array([r["cv"] is not None for r in crows], dtype=bool)
    cvidx = np.nonzero(cvalid)[0]
    C = (
        np.vstack([np.asarray(crows[i]["cv"], dtype=np.float64) for i in cvidx])
        if cvidx.size
        else None
    )
    npb = int(nprobe)

    def _assign(it):
        for pdf in it:
            if pdf.empty:
                continue
            vals = pdf["v"].to_numpy()
            valid = np.array([x is not None for x in vals])
            n = len(pdf)
            m = min(npb, len(cids))
            # default (NULL vector, or no non-NULL centroid): every score
            # is NULL, so the per-pair window degenerates to the lowest m
            # cluster ids (centroids were collected id-ascending)
            order = np.broadcast_to(np.arange(m, dtype=np.int64), (n, m)).copy()
            if valid.any() and C is not None:
                vidx = np.nonzero(valid)[0]
                M = np.vstack(
                    [np.asarray(vals[i], dtype=np.float64) for i in vidx]
                )
                cos = _dim_order_cosine_block(M, C)
                key = np.full((vidx.size, len(cids)), -np.inf, dtype=np.float64)
                key[:, cvidx] = np.where(np.isnan(cos), np.inf, cos)
                # stable argsort of -key keeps the lowest cluster_id first
                # within ties — the row_number tie rule of the per-pair form
                order[vidx] = np.argsort(-key, axis=1, kind="stable")[:, :m]
            out = pdf.iloc[np.repeat(np.arange(n), m)].reset_index(drop=True)
            out["cluster_id"] = cids[order].reshape(-1)
            yield out

    return v.select("vec_id", "v").mapInPandas(
        _assign, "vec_id long, v array<double>, cluster_id long"
    )
