"""Sustained streaming near-dup ingest vs a GROWING index (VERDICT r7 #5).

X50/X51 certified the warm path at one point (500-doc absorb against a 1M
index = 2.1% of cold); the missing axis is absorb cost AS THE INDEX GROWS:
the O(batch) claim predicts per-batch wall stays near-flat while the
standing signature index grows ~20x under it. This probe drives
``stream_clean_corpus`` through B micro-batches of fresh+planted documents
(one file per trigger), captures every batch's triggerExecution wall with a
StreamingQueryListener, and asserts the tail of the wall curve stays within
a constant factor of its head while the index grows from 0 to ~n_docs rows.

Corpus geometry (dedup_cert's): sf0.1 ``documents`` (5000 base docs)
x ``replicas``; replicas are group-salted in 5s (group members are mutual
near-dups of the same base doc — one marker token apart — and cross-group
token overlap ~0). Replica r lands in batch r % B with doc ids ordered by
batch, so each group's 5 members arrive in 5 CONSECUTIVE batches: the
earliest (rep ≡ 0 mod 5, always the group's first batch) must survive and
the 4 later arrivals must be absorbed by the standing index — i.e. ~80% of
every batch from b=1 on is cross-batch absorb work against an
ever-larger index, the exact steady-state production shape.

Asserted (recorded in BASELINE.md):
  * flat absorb: median wall of the last quarter of batches <= 1.6 x
    median wall of batches 2-5 (index grew ~5x between those windows);
  * absorb identities: survivors with rep % 5 != 0 (escaped planted dups)
    <= 0.1% of planted absorb targets — the same zero-escape geometry
    the corpus certification probe (at commit 4dd3b77) certified at 1M
    docs;
  * the GOLD identity at full scale vs the from-scratch batch twin:
    batch survivors ⊆ streamed survivors EXACTLY (zero missing — a
    component's global-min id never loses under ingest-ordered ids),
    streamed excess = earlier survivors of clusters a later doc bridged
    (prefix-consistency: a stream cannot retract an emitted survivor),
    excess bounded ≤ 2%. This run found and quantified that semantic:
    0.9% excess at 1M docs with heavy planted structure.

Usage: python tools/stream_ingest_probe.py [replicas] [batches]
  (default 200 20 → 1M docs in 20 x 50k-doc batches)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from datalakefoundation_spark.session import get_spark  # noqa: E402
from datalakefoundation_spark.streaming.ops import (  # noqa: E402
    read_clean_corpus_output,
    stream_clean_corpus,
)
from datalakefoundation_spark.tables.lake_table import LakeTable  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
GROUP = 5  # replicas per planted near-dup group (dedup_cert geometry)


class _WallTap(StreamingQueryListener):
    def __init__(self) -> None:
        self.wall_ms: dict[int, int] = {}
        self.rows: dict[int, int] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.wall_ms[p.batchId] = int(p.durationMs.get("triggerExecution", 0))
        self.rows[p.batchId] = p.numInputRows

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def gen_corpus(spark, replicas: int, batches: int):
    """Replica r -> batch r % batches; doc ids strictly increase with batch
    (the ingest-ordered contract); group salt + per-replica marker token."""
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    n_base = base.count()
    rpb = replicas // batches
    reps = spark.range(replicas).withColumnRenamed("id", "rep")
    grp = (F.col("rep") / GROUP).cast("long")
    b = F.col("rep") % batches
    gen = base.crossJoin(reps).select(
        (
            b * (n_base * rpb)
            + (F.col("rep") / batches).cast("long") * n_base
            + F.col("doc_id")
        ).alias("doc_id"),
        F.concat(
            F.regexp_replace(
                F.col("text"),
                F.lit(" "),
                F.concat(F.lit("_g"), grp.cast("string"), F.lit(" ")),
            ),
            F.lit(" m"),
            F.col("rep").cast("string"),
        ).alias("text"),
        F.col("lang"),
        b.alias("__batch"),
        F.col("rep").alias("__rep"),
    )
    return gen, n_base, rpb


def run_probe(spark, replicas: int, batches: int) -> dict:
    """Generate the corpus, stream it through stream_clean_corpus, and
    return the full evidence record (walls, index growth, survivor
    identities vs the batch twin, reconcile convergence). Asserts live in
    ``main`` (full scale) and tests/test_certifications.py (CI scale)."""
    assert replicas % batches == 0 and (replicas // batches) >= 1
    # the rep-%-GROUP survivor arithmetic (and the escape metric built on
    # it) requires each group's members to arrive in CONSECUTIVE batches
    # with the rep≡0 member first — true iff the batch cycle never wraps
    # inside a group: batches % GROUP == 0, or every rep fits in one cycle
    assert replicas <= batches or batches % GROUP == 0, (
        f"batches={batches} must be a multiple of GROUP={GROUP} (or "
        f"replicas <= batches), else group membership wraps the batch "
        "cycle and the escape metric miscounts legitimate survivors"
    )
    gen, n_base, rpb = gen_corpus(spark, replicas, batches)
    n_docs = n_base * replicas
    rec: dict = {"replicas": replicas, "batches": batches, "docs": n_docs}

    tmp = tempfile.mkdtemp(prefix="stream_ingest_")
    try:
        src = f"{tmp}/src"
        # one file per batch, mtimes strictly increasing so the file source
        # admits them in batch order (maxFilesPerTrigger=1)
        t0 = time.time()
        for b in range(batches):
            gen.where(F.col("__batch") == b).drop("__batch", "__rep").coalesce(
                1
            ).write.mode("append").parquet(src)
            t = time.time() - 86_400 + b * 60
            for root, _dirs, files in os.walk(src):
                for f in files:
                    p = os.path.join(root, f)
                    if os.path.getmtime(p) > t:
                        os.utime(p, (t, t))
        rec["corpus_write_s"] = round(time.time() - t0, 1)

        out, index, ckpt = f"{tmp}/out", f"{tmp}/index", f"{tmp}/ckpt"
        tap = _WallTap()
        spark.streams.addListener(tap)
        try:
            t0 = time.time()
            stream = (
                spark.readStream.schema("doc_id long, text string, lang string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = stream_clean_corpus(
                stream,
                out,
                index,
                ckpt,
                clean_kwargs=dict(min_tokens=5, redact_pii=False),
            )
            q.awaitTermination()
            rec["total_wall_s"] = round(time.time() - t0, 1)
            time.sleep(3)  # drain async listener events
        finally:
            spark.streams.removeListener(tap)

        walls = [round(tap.wall_ms[b] / 1000.0, 1) for b in sorted(tap.wall_ms)]
        # drop trailing empty batches (availableNow drain)
        data_walls = [
            round(tap.wall_ms[b] / 1000.0, 1)
            for b in sorted(tap.wall_ms)
            if tap.rows.get(b, 0) > 0
        ]
        rec["batch_wall_s"] = walls
        rec["data_batch_wall_s"] = data_walls
        idx = LakeTable(spark, index).read()
        per_batch_sigs = {
            r["__batch_key"]: r["n"]
            for r in idx.groupBy("__batch_key").agg(F.count("*").alias("n")).collect()
        }
        rec["index_rows_final"] = idx.count()
        # replay keys are "<stream_id>:<unpadded batch>" — sort numerically,
        # not lexically, or the recorded growth series comes out scrambled
        rec["index_rows_per_batch"] = [
            per_batch_sigs[k]
            for k in sorted(per_batch_sigs, key=lambda k: int(k.rsplit(":", 1)[1]))
        ]

        survivors = read_clean_corpus_output(spark, out, ckpt).select("doc_id")
        # recover rep from the doc id layout: b = id // (n_base*rpb),
        # k = (id % (n_base*rpb)) // n_base, rep = k*batches + b
        stride = n_base * rpb
        rep = (
            (F.col("doc_id") % stride) / n_base
        ).cast("long") * batches + (F.col("doc_id") / stride).cast("long")
        surv = survivors.select(F.col("doc_id"), rep.alias("rep"))
        n_surv = surv.count()
        escapes = surv.where(F.col("rep") % GROUP != 0).count()
        rec["survivors"] = n_surv
        rec["escaped_planted_dups"] = escapes

        # the gold identity vs the from-scratch batch twin. Streaming dedup
        # is PREFIX-CONSISTENT, not retroactive: a later doc can BRIDGE two
        # clusters that earlier batches kept separately (batch k emits
        # survivors a and b; batch k+1's w connects them; the from-scratch
        # run keeps only min(a,b), but a stream cannot retract an emitted
        # survivor). So the exact contract — asserted here at 1M docs — is
        #   batch survivors ⊆ streamed survivors   (a component's global
        #   min id never loses under ingest-ordered ids), with the excess
        #   exactly the earlier survivors of later-merged clusters,
        # and the excess fraction stays small (bridge docs are rare even
        # in this heavily planted corpus). A periodic doc-level dedup
        # compaction over accumulated survivors reconciles to the batch
        # set when exactness matters.
        from datalakefoundation_spark.ext.recipes import clean_corpus

        t0 = time.time()
        all_docs = spark.read.parquet(src)
        batch_res = clean_corpus(
            all_docs, near_dedup=True, min_tokens=5, redact_pii=False
        )
        batch_ids = batch_res.df.select("doc_id").persist()
        batch_count = batch_ids.count()
        missing = batch_ids.join(survivors, "doc_id", "left_anti").count()
        batch_res.unpersist()
        rec["batch_twin_survivors"] = batch_count
        rec["streamed_minus_batch"] = n_surv - batch_count
        rec["batch_minus_streamed"] = missing
        rec["batch_twin_wall_s"] = round(time.time() - t0, 1)

        # X54: the periodic compaction must converge the streamed set to
        # the batch set EXACTLY (set equality, both directions)
        from datalakefoundation_spark.ext.recipes import reconcile_survivors

        t0 = time.time()
        reconciled = reconcile_survivors(
            survivors, idx.drop("__batch_key")
        ).select("doc_id").persist()
        rec["reconciled_survivors"] = reconciled.count()
        rec["reconciled_minus_batch"] = reconciled.join(
            batch_ids, "doc_id", "left_anti"
        ).count()
        rec["batch_minus_reconciled"] = batch_ids.join(
            reconciled, "doc_id", "left_anti"
        ).count()
        rec["reconcile_wall_s"] = round(time.time() - t0, 1)
        reconciled.unpersist()

        # X55 PACKAGED path, end to end (r9): reconcile_clean_corpus
        # bootstraps the assignment LakeTable from the standing index
        # (full clustering, once), then one more streamed wave lands and
        # the second call reconciles at batch-sized cost via the
        # watermark ledger. Both calls must converge to their respective
        # batch twins exactly.
        from datalakefoundation_spark.streaming.ops import reconcile_clean_corpus

        assign = f"{tmp}/assign"
        # DLF_PROBE_BANDED_FILES=N runs the packaged cycle through the r10
        # band-key-clustered companion (bootstrap builds it; the churn
        # reconcile reads it pruned when the self-pricing guard agrees)
        banded_files = int(os.environ.get("DLF_PROBE_BANDED_FILES", "0"))
        bkw = (
            dict(banded_index_path=f"{tmp}/bands", band_cluster_files=banded_files)
            if banded_files
            else {}
        )
        rec["banded_files"] = banded_files
        t0 = time.time()
        pkg = reconcile_clean_corpus(spark, out, index, ckpt, assign, **bkw).select(
            "doc_id"
        ).persist()
        rec["pkg_bootstrap_survivors"] = pkg.count()
        rec["pkg_bootstrap_wall_s"] = round(time.time() - t0, 1)
        rec["pkg_bootstrap_minus_batch"] = pkg.join(
            batch_ids, "doc_id", "left_anti"
        ).count()
        rec["batch_minus_pkg_bootstrap"] = batch_ids.join(
            pkg, "doc_id", "left_anti"
        ).count()
        pkg.unpersist()
        batch_ids.unpersist()

        # one more wave: fresh docs (ids above everything ingested) with
        # planted near-dups of each other — streamed in, then reconciled
        # at churn cost through the SAME checkpoint/index/ledger
        base_max = n_docs  # ids so far are < n_base * replicas
        extra = (
            spark.range(per_wave := max(1000, n_base // 5))
            .select(
                (F.col("id") + base_max).alias("doc_id"),
                F.concat(
                    F.lit("wave doc "),
                    ((F.col("id") / 2).cast("long")).cast("string"),
                    F.lit(" body "),
                    F.concat_ws(
                        " ",
                        *[
                            F.concat(
                                F.lit(f"xw{j}g"),
                                ((F.col("id") / 2).cast("long")).cast("string"),
                            )
                            for j in range(30)
                        ],
                    ),
                    F.lit(" m"),
                    F.col("id").cast("string"),
                ).alias("text"),
                F.lit("en").alias("lang"),
            )
        )
        extra.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_clean_corpus(
            stream, out, index, ckpt,
            clean_kwargs=dict(min_tokens=5, redact_pii=False),
        )
        q.awaitTermination()
        t0 = time.time()
        pkg2 = reconcile_clean_corpus(spark, out, index, ckpt, assign, **bkw).select(
            "doc_id"
        ).persist()
        rec["pkg_incremental_survivors"] = pkg2.count()
        rec["pkg_incremental_wall_s"] = round(time.time() - t0, 1)
        all_docs2 = spark.read.parquet(src)
        batch2 = clean_corpus(
            all_docs2, near_dedup=True, min_tokens=5, redact_pii=False
        )
        b2 = batch2.df.select("doc_id").persist()
        rec["pkg_incremental_minus_batch"] = pkg2.join(
            b2, "doc_id", "left_anti"
        ).count()
        rec["batch_minus_pkg_incremental"] = b2.join(
            pkg2, "doc_id", "left_anti"
        ).count()
        batch2.unpersist()
        b2.unpersist()
        pkg2.unpersist()
        return rec
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def assert_identities(rec: dict) -> None:
    """The scale-independent identities (shared with the CI-sized test):
    exact subset direction, bounded bridge excess, reconcile convergence,
    bounded escapes."""
    n_docs = rec["docs"]
    planted = n_docs - n_docs // GROUP
    assert rec["escaped_planted_dups"] <= max(10, planted // 1000), (
        f"{rec['escaped_planted_dups']} planted near-dups escaped the index"
    )
    assert rec["batch_minus_streamed"] == 0, (
        f"{rec['batch_minus_streamed']} batch-twin survivors absent from the "
        "stream — the subset direction must be exact (global-min never loses)"
    )
    assert rec["streamed_minus_batch"] <= 0.02 * rec["batch_twin_survivors"], (
        f"streamed excess {rec['streamed_minus_batch']} over batch twin "
        f"{rec['batch_twin_survivors']} exceeds 2%"
    )
    assert rec["reconciled_minus_batch"] == 0 == rec["batch_minus_reconciled"], (
        "reconcile_survivors must converge to the batch set exactly: "
        f"{rec['reconciled_minus_batch']} extra, "
        f"{rec['batch_minus_reconciled']} missing"
    )
    assert (
        rec["pkg_bootstrap_minus_batch"] == 0 == rec["batch_minus_pkg_bootstrap"]
    ), "packaged reconcile_clean_corpus bootstrap must equal the batch set"
    assert (
        rec["pkg_incremental_minus_batch"]
        == 0
        == rec["batch_minus_pkg_incremental"]
    ), (
        "packaged reconcile after one more streamed wave must equal the "
        "batch twin over the extended corpus"
    )


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    batches = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark("stream-ingest-probe")
    spark.sparkContext.setLogLevel("ERROR")
    rec = run_probe(spark, replicas, batches)
    print(json.dumps(rec), flush=True)

    data_walls = rec["data_batch_wall_s"]
    n = len(data_walls)
    assert n == batches, (n, batches)
    # flatness only at full scale: tiny batches are noise-dominated
    head = sorted(data_walls[2:6])[len(data_walls[2:6]) // 2]
    tail_w = data_walls[-(n // 4):]
    tail = sorted(tail_w)[len(tail_w) // 2]
    assert tail <= 1.6 * head, (
        f"absorb wall grows with index size: head-median {head}s "
        f"(batches 2-5) vs tail-median {tail}s (last quarter): {data_walls}"
    )
    assert_identities(rec)
    print("STREAM INGEST PROBE OK")


if __name__ == "__main__":
    main()
