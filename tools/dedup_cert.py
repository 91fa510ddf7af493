"""1M-doc dedup certification (VERDICT r4 #8).

Extends the 40k/160k vocab-knob and 50k/200k incremental-index probes to
1M documents, recording for each corpus size:

  * minhash full-corpus candidate generation vs incremental absorb of a
    500-doc ingest batch against a persisted signature index
  * simhash direct per-occurrence hashing vs the hash_distinct vocab knob
  * large-star/small-star connected components over the real candidate
    pairs: rounds to convergence + wall time

Corpus design: the sf0.1 documents table (5 000 docs) is replicated R
times; replicas are grouped in fives, every token is suffixed with the
group id (one codegen'd regexp_replace — cross-group Jaccard ~0, so
candidate volume stays O(docs), not O(docs x replicas)), and each replica
appends a distinct marker token (group members are NEAR-duplicates, not
exact). Expected structure: clusters of exactly 5, pairs ~ docs x 4 / 2.

Usage: python tools/dedup_cert.py [replica counts...]   (default 40 200)
  40 replicas = 200k docs, 200 = 1M.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from datalakefoundation_spark.ext.cluster import (  # noqa: E402
    _large_star,
    _small_star,
)
from datalakefoundation_spark.ext.dedup import (  # noqa: E402
    incremental_lsh_candidates,
    minhash_dedup_candidates,
    minhash_signature,
    simhash,
)
from datalakefoundation_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
GROUP = 5  # near-dup cluster size


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_corpus(spark, replicas: int):
    """base x replicas via ONE range cross join (no R-way union):
    doc_id globalized, tokens group-salted, per-replica marker appended."""
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    n_base = base.count()
    reps = spark.range(replicas).withColumnRenamed("id", "rep")
    grp = (F.col("rep") / GROUP).cast("long")
    salted = (
        base.crossJoin(reps)
        .select(
            (F.col("rep") * n_base + F.col("doc_id")).alias("doc_id"),
            F.concat(
                F.regexp_replace(
                    F.col("text"),
                    F.lit(" "),
                    F.concat(F.lit("_g"), grp.cast("string"), F.lit(" ")),
                ),
                F.lit(" m"),
                F.col("rep").cast("string"),
            ).alias("text"),
        )
    )
    return salted, n_base


def cc_rounds(pairs, max_iter: int = 25):
    """connected_components' loop, instrumented to report rounds."""
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = edges.count()
    for r in range(1, max_iter + 1):
        new_edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        n = new_edges.count()
        if n == prev and new_edges.subtract(edges).isEmpty():
            return r, n
        edges, prev = new_edges, n
    return max_iter, prev


def main() -> None:
    counts = [int(a) for a in sys.argv[1:]] or [40, 200]
    spark = get_spark("dedup-cert")
    spark.sparkContext.setLogLevel("ERROR")
    out = []
    for replicas in counts:
        corpus, n_base = build_corpus(spark, replicas)
        n_docs = n_base * replicas
        rec: dict = {"replicas": replicas, "docs": n_docs}
        with tempfile.TemporaryDirectory() as tmp:
            # materialize once so every leg reads the same parquet (and the
            # salting regexp isn't re-paid inside each measured leg)
            corpus_path = f"{tmp}/corpus.parquet"
            corpus.write.parquet(corpus_path)
            cdf = spark.read.parquet(corpus_path)

            # --- minhash full
            t0 = time.time()
            _force(minhash_dedup_candidates(cdf))
            rec["minhash_full_s"] = round(time.time() - t0, 1)

            # --- incremental absorb of a 500-doc batch
            index_path = f"{tmp}/index.parquet"
            t0 = time.time()
            minhash_signature(cdf).write.parquet(index_path)
            rec["index_build_once_s"] = round(time.time() - t0, 1)
            index_df = spark.read.parquet(index_path)
            batch = (
                spark.read.parquet(f"{SF_DIR}/documents.parquet")
                .limit(500)
                .select(
                    (F.col("doc_id") + n_docs).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" mbatch")).alias("text"),
                )
            )
            t0 = time.time()
            _force(incremental_lsh_candidates(index_df, minhash_signature(batch)))
            rec["minhash_incr_s"] = round(time.time() - t0, 1)
            rec["incr_speedup"] = round(
                rec["minhash_full_s"] / max(rec["minhash_incr_s"], 0.001), 1
            )

            # --- simhash direct vs vocab knob
            t0 = time.time()
            _force(simhash(cdf, hash_distinct=False))
            rec["simhash_direct_s"] = round(time.time() - t0, 1)
            t0 = time.time()
            _force(simhash(cdf, hash_distinct=True))
            rec["simhash_vocab_s"] = round(time.time() - t0, 1)

            # --- connected components over the REAL candidate pairs
            pairs_path = f"{tmp}/pairs.parquet"
            minhash_dedup_candidates(cdf).write.parquet(pairs_path)
            pairs = spark.read.parquet(pairs_path)
            rec["pairs"] = pairs.count()
            t0 = time.time()
            rounds, star_edges = cc_rounds(pairs)
            rec["cc_rounds"] = rounds
            rec["cc_s"] = round(time.time() - t0, 1)
            rec["cc_star_edges"] = star_edges
        out.append(rec)
        print(json.dumps(rec), flush=True)
    print(json.dumps({"all": out}))


if __name__ == "__main__":
    main()
