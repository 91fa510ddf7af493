"""End-to-end training-corpus preparation recipes.

Composition layer over the ext/ operators: one call takes a raw document
table through the standard pre-training cleanup sequence. Each stage is
the already-tested operator; the recipe adds the canonical ORDER (cheap
scan-speed filters first, shuffling dedup stages on the survivors only,
benchmark decontamination before sampling so contamination can't leak
into the mixture) and a per-stage audit trail.

Everything stays lazy until the caller acts; at 100 TB the stage order is
the cost model — each stage shrinks the input of the next, and the only
shuffles are the dedup/cluster stages, running on post-filter survivors.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalakefoundation_spark.ext import dedup as D
from datalakefoundation_spark.ext import text as TX
from datalakefoundation_spark.ext.cluster import dedup_clusters
from datalakefoundation_spark.ext.pii import pii_scrub
from datalakefoundation_spark.ext.sampling import mixture_sample


@dataclass
class CleanResult:
    """Cleaned corpus + the per-stage survivor counts (computed lazily —
    ``counts()`` triggers one action per recorded stage).

    ``persisted`` lists every frame the recipe left cached: the
    quality/PII prefix it caches for exact dedup when ``near_dedup=False``,
    else the exact-dedup survivors feeding the clustering loop (the prefix
    is then released before the call returns). Their storage lives for the
    SparkSession unless released: call ``unpersist()`` after
    materializing ``df`` (the lazy stages reference the cached frame, so
    release it only once you no longer need to act on them)."""

    df: DataFrame
    stages: list[tuple[str, DataFrame]] = field(default_factory=list)
    persisted: list[DataFrame] = field(default_factory=list)
    #: set whenever near-dedup ran: minhash signatures of THIS call's
    #: post-exact-dedup documents (losers included — see clean_corpus).
    #: Append them to the index table after materializing ``df`` so the
    #: next ``near_dedup_index=`` ingest sees them.
    index_updates: DataFrame | None = None

    def counts(self) -> dict[str, int]:
        return {name: frame.count() for name, frame in self.stages}

    def unpersist(self, blocking: bool = False) -> None:
        """Release every frame the recipe persisted (idempotent)."""
        for frame in self.persisted:
            frame.unpersist(blocking)


def clean_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 10,
    min_distinct_ratio: float = 0.1,
    benchmark: DataFrame | None = None,
    max_contaminated_frac: float = 0.2,
    redact_pii: bool = True,
    mixture: tuple[str, dict[str, float]] | None = None,
    near_dedup: bool = True,
    near_dedup_index: DataFrame | None = None,
    shingle_size: int = 3,
    decon_shingle_size: int = 5,
    span_dedup_size: int | None = None,
    gopher: bool = False,
    gopher_min_words: int = 50,
    gopher_kwargs: dict | None = None,
    perplexity: tuple[DataFrame, DataFrame, float] | None = None,
) -> CleanResult:
    """The standard pre-training cleanup pipeline:

    1. quality gate (Gopher/C4-style, scan speed, no shuffle)
    2. PII redaction (regex tier, scan speed)
    3. exact dedup (one hash shuffle, min-id survivor)
    4. near-dup clustering (MinHash-LSH candidates -> connected
       components; one survivor per cluster)
    5. optional substring-level span dedup (``span_dedup_size`` tokens):
       REWRITES surviving documents to strip token spans an earlier doc
       already owns — catches the partial copying doc-level stages can't,
       then re-applies the minimum-length gate to the rewritten text
    6. benchmark decontamination (drop docs sharing more than
       ``max_contaminated_frac`` of their shingles with ``benchmark``)
    7. optional CCNet-style LM perplexity gate
       (``perplexity=(uni, bi, max_ppl)`` — train on a reference corpus
       via ``ext.lm.train_bigram_lm``)
    8. deterministic mixture sampling (``mixture=(strata_col, weights)``)

    The optional Gopher battery (``gopher=True``) runs right after the
    basic quality gate — same scan, stricter rules; ``gopher_kwargs``
    passes per-corpus threshold overrides straight to
    ``text.gopher_quality`` (the Gopher paper itself tunes the battery
    per source — e.g. ``min_required_words=0`` for non-English or
    non-prose corpora). Optional stages are
    skipped when their inputs say so (``redact_pii``, ``near_dedup``,
    ``span_dedup_size``, ``benchmark``, ``perplexity``, ``mixture``).
    Returns the cleaned DataFrame plus each stage's output for auditing.

    ``near_dedup_index`` switches stage 4 to the INCREMENTAL shape: pass
    the accumulated ``CleanResult.index_updates`` of every earlier ingest
    (minhash signatures of ALL previously seen post-exact-dedup docs) and
    the stage dedups the batch against it in O(batch) — standing docs
    always win, new-only clusters keep their min id. Append this call's
    ``index_updates`` to the index after materializing."""
    stages: list[tuple[str, DataFrame]] = [("input", docs)]
    persisted: list[DataFrame] = []
    cur = docs

    if gopher_kwargs:
        # fail fast with a CLEAR error: gopher_kwargs is splatted after the
        # explicit arguments below, so an overlapping or typo'd key would
        # otherwise surface as an opaque TypeError from deep inside the call
        import inspect

        tunable = set(inspect.signature(TX.gopher_quality).parameters) - {
            "df", "text_col", "id_col", "keep_input", "min_words"
        }
        bad = set(gopher_kwargs) - tunable
        if bad:
            hint = (
                " (use the gopher_min_words argument instead of "
                "gopher_kwargs['min_words'])" if "min_words" in bad else ""
            )
            raise ValueError(
                f"clean_corpus: gopher_kwargs keys {sorted(bad)} are not "
                f"tunable gopher_quality thresholds{hint}; valid: "
                f"{sorted(tunable)}"
            )

    cur = (
        TX.quality_filter(
            cur, text_col,
            min_tokens=min_tokens, min_distinct_ratio=min_distinct_ratio,
        )
        .where(F.col("keep"))
        .drop("keep", "reject_reason")
    )
    stages.append(("quality", cur))

    if gopher:
        # the full Rae-et-al heuristic battery on the survivors — still
        # scan-speed: keep_input carries the source columns through the
        # metric projection so the gate is a plain filter, NOT a join
        # (a semi-join on doc_id would shuffle the whole corpus twice)
        original_cols = cur.columns
        cur = (
            TX.gopher_quality(
                cur, text_col, id_col,
                min_words=gopher_min_words, keep_input=True,
                **(gopher_kwargs or {}),
            )
            .where(F.col("keep"))
            .select(*original_cols)
        )
        stages.append(("gopher", cur))

    if redact_pii:
        cur = (
            pii_scrub(cur, text_col)
            .drop(text_col, "n_email", "n_ipv4", "n_phone", "n_digit_run")
            .withColumnRenamed("redacted", text_col)
        )
        # no stage record: redaction is row-preserving (same count)

    # persist the quality/PII prefix: exact dedup reads it twice (it joins
    # the frame with its own aggregate), and without the cache both reads
    # scan the raw corpus and run the PII regexes. With near-dedup it is
    # released below, once connected_components has materialized the
    # survivors' cache from it; without, the returned frame still reads it
    # and the caller releases it (CleanResult.persisted).
    prefix = cur.persist()
    cur = D.exact_dedup(prefix, text_col=text_col, id_col=id_col)
    stages.append(("exact_dedup", cur))

    index_updates: DataFrame | None = None
    if near_dedup:
        # persist the exact-dedup survivors: the near-dup stage reads them
        # more than once — the candidate edges that connected_components
        # collects, the loser anti-join that keeps `cur`, and the signatures
        # behind index_updates — and without a persist each read re-runs
        # exact dedup and, once the prefix is released, the whole
        # quality/PII prefix from the raw corpus (18% end-to-end at 1M docs,
        # measured by the corpus certification probe last in the tree at
        # commit 4dd3b77). Storage is the post-filter survivor set, not the
        # raw corpus, and it is surfaced on CleanResult.persisted so callers
        # can release it (CleanResult.unpersist()) after materializing.
        cur = cur.persist()
        persisted.append(cur)
        exact_survivors = cur
        from datalakefoundation_spark.ext.dedup import minhash_signature

        if near_dedup_index is not None:
            # INCREMENTAL ingest shape (the 100 TB steady state): the
            # candidate stage pays O(batch) signatures + one equi-join of
            # the batch's band keys against the standing index — never a
            # full-corpus re-bucketing. The index holds ALL previously
            # ingested signatures (survivors AND their dropped near-dups:
            # a batch doc whose nearest match lost an earlier round must
            # still lose — its cluster's standing survivor is transitively
            # reachable only through that loser). A new doc joining a
            # component that touches ANY indexed doc loses; new-only
            # components keep their min-id member — the same survivor
            # rule the from-scratch path applies. On ingest-ordered ids
            # (batch ids > index ids) batch-by-batch cleaning is
            # PREFIX-CONSISTENT with the from-scratch run: every
            # from-scratch survivor survives here too (a component's
            # global-min id never loses), but a later batch can BRIDGE
            # two clusters earlier batches kept separately, and their
            # already-kept earlier survivors are not retracted (measured
            # 0.9% excess at 1M docs, tools/stream_ingest_probe.py; a
            # periodic doc-level dedup compaction reconciles). Asserted
            # in tests/test_ext_operators.py and the subset/excess
            # identities in tools/stream_ingest_probe.py (and at 1M docs
            # by the corpus certification probe at commit 4dd3b77).
            from datalakefoundation_spark.ext.cluster import connected_components
            from datalakefoundation_spark.ext.dedup import incremental_lsh_candidates

            new_sigs = minhash_signature(
                cur, text_col, id_col, shingle_size=shingle_size
            ).persist()
            persisted.append(new_sigs)
            index_updates = new_sigs
            pairs = incremental_lsh_candidates(
                near_dedup_index, new_sigs, id_col=id_col
            )
            comp = connected_components(pairs)
            idx_ids = near_dedup_index.select(
                F.col(id_col).alias("node"), F.lit(True).alias("__idx")
            )
            comp = comp.join(idx_ids, "node", "left")
            flags = comp.groupBy("cluster_id").agg(
                F.max(F.coalesce("__idx", F.lit(False))).alias("__has_idx")
            )
            losers = (
                comp.join(flags, "cluster_id")
                .where(
                    F.col("__idx").isNull()
                    & (F.col("__has_idx") | (F.col("node") != F.col("cluster_id")))
                )
                .select(F.col("node").alias(id_col))
            )
            cur = cur.join(losers, id_col, "left_anti")
        else:
            clusters = dedup_clusters(
                cur, text_col=text_col, id_col=id_col, shingle_size=shingle_size
            )
            # drop every clustered doc except its cluster's survivor
            losers = clusters.where(~F.col("is_survivor")).select(id_col)
            cur = cur.join(losers, id_col, "left_anti")
            # first-ingest index seed: the SAME signature set an
            # incremental continuation needs (everything post exact-dedup,
            # losers included — see the incremental branch's note)
            index_updates = minhash_signature(
                exact_survivors, text_col, id_col, shingle_size=shingle_size
            )
        # both branches ran connected_components, whose collect or
        # checkpoint filled the survivors' cache: the prefix is not read
        # again (a dependent cache that is already filled stays)
        prefix.unpersist()
        stages.append(("near_dedup", cur))
    else:
        persisted.append(prefix)

    if span_dedup_size is not None:
        rewritten = D.span_dedup(
            cur, text_col=text_col, id_col=id_col, span_size=span_dedup_size
        ).select(id_col, "clean_text")
        cur = (
            cur.drop(text_col)
            .join(rewritten, id_col)
            .withColumnRenamed("clean_text", text_col)
        )
        # rewriting can shrink a doc below the quality floor: re-apply the
        # token-count gate (cheap scan filter) so downstream stages never
        # see gutted husks
        cur = cur.where(TX.token_count(text_col) >= F.lit(min_tokens))
        stages.append(("span_dedup", cur))

    if benchmark is not None:
        # separate knob from the near-dup shingle width: dedup favors short
        # shingles (recall), decontamination the published 5-8-gram tests
        frac = D.decontamination_fraction(
            cur, benchmark, text_col=text_col, id_col=id_col,
            shingle_size=decon_shingle_size,
        ).where(F.col("contaminated_frac") > max_contaminated_frac).select(
            F.col(id_col).alias("__dirty_id")
        )
        cur = cur.join(frac, cur[id_col] == F.col("__dirty_id"), "left_anti")
        stages.append(("decontaminate", cur))

    if perplexity is not None:
        # CCNet-style LM gate: train the LM on a REFERENCE corpus (not on
        # `docs` — that would reward the corpus's own junk), pass
        # (uni, bi, max_ppl). Runs after dedup/decontamination so the LM
        # join prices only final-candidate documents.
        from datalakefoundation_spark.ext.lm import perplexity_filter

        uni, bi, max_ppl = perplexity
        cur = perplexity_filter(
            cur, uni, bi, max_ppl, text_col=text_col, id_col=id_col
        )
        stages.append(("perplexity", cur))

    if mixture is not None:
        strata_col, weights = mixture
        cur = mixture_sample(cur, key_col=id_col, strata_col=strata_col, weights=weights)
        stages.append(("mixture", cur))

    return CleanResult(
        df=cur, stages=stages, persisted=persisted, index_updates=index_updates
    )


def clean_corpus_config(
    docs: DataFrame, config: dict, benchmark: DataFrame | None = None
) -> CleanResult:
    """Metadata-driven corpus cleanup: the same JSON-config philosophy the
    ingestion side uses (entities/settings) applied to the training-data
    pipeline — a pipeline definition that can live next to the entity
    config, be diffed/reviewed, and rerun bit-identically (every stage is
    deterministic; see the reproducibility test).

    ``config`` keys (all optional, defaults = clean_corpus defaults):
      text_col, id_col            — column names
      quality.min_tokens          — int
      quality.min_distinct_ratio  — float
      quality.gopher              — bool (the full Rae-et-al battery)
      quality.gopher_min_words    — int
      quality.gopher_kwargs       — {threshold: value} passed to gopher_quality
      pii.redact                  — bool
      dedup.near                  — bool
      dedup.shingle_size          — int
      dedup.span_size             — int | absent (stage off)
      decontaminate.shingle_size  — int
      decontaminate.max_frac      — float
      mixture.strata_col          — str   (with mixture.weights)
      mixture.weights             — {stratum: weight}

    Unknown keys raise — a typo'd config must fail loudly, not silently
    skip a cleaning stage (same fail-fast stance as the entity settings).
    """
    known = {
        "text_col", "id_col", "quality", "pii", "dedup", "decontaminate",
        "mixture",
    }
    unknown = set(config) - known
    if unknown:
        raise ValueError(f"clean_corpus_config: unknown keys {sorted(unknown)}")
    sub_known = {
        "quality": {
            "min_tokens", "min_distinct_ratio", "gopher", "gopher_min_words",
            "gopher_kwargs",
        },
        "pii": {"redact"},
        "dedup": {"near", "shingle_size", "span_size"},
        "decontaminate": {"shingle_size", "max_frac"},
        "mixture": {"strata_col", "weights"},
    }
    for section, keys in sub_known.items():
        extra = set(config.get(section, {})) - keys
        if extra:
            raise ValueError(
                f"clean_corpus_config: unknown keys {sorted(extra)} in '{section}'"
            )
    quality = config.get("quality", {})
    pii = config.get("pii", {})
    dedup = config.get("dedup", {})
    decon = config.get("decontaminate", {})
    mixture_cfg = config.get("mixture", {})
    mixture = None
    if mixture_cfg:
        if "strata_col" not in mixture_cfg or "weights" not in mixture_cfg:
            raise ValueError(
                "clean_corpus_config: mixture needs strata_col AND weights"
            )
        mixture = (mixture_cfg["strata_col"], dict(mixture_cfg["weights"]))
    return clean_corpus(
        docs,
        text_col=config.get("text_col", "text"),
        id_col=config.get("id_col", "doc_id"),
        min_tokens=int(quality.get("min_tokens", 10)),
        min_distinct_ratio=float(quality.get("min_distinct_ratio", 0.1)),
        benchmark=benchmark,
        max_contaminated_frac=float(decon.get("max_frac", 0.2)),
        redact_pii=bool(pii.get("redact", True)),
        mixture=mixture,
        near_dedup=bool(dedup.get("near", True)),
        shingle_size=int(dedup.get("shingle_size", 3)),
        decon_shingle_size=int(decon.get("shingle_size", 5)),
        span_dedup_size=(
            int(dedup["span_size"]) if "span_size" in dedup else None
        ),
        gopher=bool(quality.get("gopher", False)),
        gopher_min_words=int(quality.get("gopher_min_words", 50)),
        gopher_kwargs=dict(quality.get("gopher_kwargs", {})) or None,
    )


def reconcile_survivors(
    survivors: DataFrame,
    index_sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Periodic compaction that converges incremental/streamed near-dedup
    output to the from-scratch survivor set (X54).

    Incremental cleaning is PREFIX-CONSISTENT, not identical, to the
    batch run: a later document can BRIDGE two clusters earlier ingests
    kept separately, and the earlier of the two emitted survivors is
    never retracted (measured 0.91% excess at 1M docs,
    tools/stream_ingest_probe.py). This pass reconciles: re-cluster the
    candidate graph over the FULL standing signature index — losers
    included, which is exactly why ``clean_corpus`` retains them: the
    bridge path a—a'—w—b'—b runs through absorbed docs, so clustering
    survivors alone could never merge a and b — then keep each component's
    minimum id. Because every from-scratch survivor is its component's
    global minimum (the subset direction is exact — probe-asserted), the
    result EQUALS the from-scratch survivor set.

    Cost: one full bucketing (a star per LSH bucket) + connected
    components over the index — O(corpus), the price of exactness, which
    is why this is a PERIODIC compaction and not a per-batch stage
    (per-batch stays O(batch)).
    Returns the reconciled survivors (rows of ``survivors`` minus the
    bridged extras)."""
    from datalakefoundation_spark.ext.cluster import connected_components
    from datalakefoundation_spark.ext.dedup import lsh_star_edges

    edges = lsh_star_edges(
        index_sigs.select(id_col, *[f"h{i}" for i in range(num_hashes)]),
        id_col,
        num_hashes,
        band_size,
    )
    comp = connected_components(edges)
    losers = comp.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return survivors.join(losers, id_col, "left_anti")


def cluster_assignment(
    index_sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Full near-dup clustering over a standing signature index:
    ``(node, cluster_id)`` for every doc appearing in a candidate pair,
    cluster_id = the component's minimum id. One bucketing pass (a star
    per LSH bucket) + connected components — O(corpus); run it ONCE to
    bootstrap the persisted assignment state that
    ``reconcile_survivors_frontier`` then maintains at O(churn) per
    reconcile. Docs in no pair are implicit singletons
    (cluster = own id) and carry no row."""
    from datalakefoundation_spark.ext.cluster import connected_components
    from datalakefoundation_spark.ext.dedup import lsh_star_edges

    edges = lsh_star_edges(
        index_sigs.select(id_col, *[f"h{i}" for i in range(num_hashes)]),
        id_col,
        num_hashes,
        band_size,
    )
    return connected_components(edges)


@dataclass
class FrontierReconcile:
    """Result of ``reconcile_survivors_frontier``.

    ``df`` — the reconciled survivors (input minus newly-bridged losers).
    ``updates`` — (node, cluster_id) rows to UPSERT into the persisted
    assignment state: new rows for frontier docs (and old singletons) that
    joined a pair, plus relabeled rows for every member of a prior cluster
    whose minimum changed. Churn-sized.
    ``assignment`` — the full post-reconcile assignment (prior rows with
    relabels applied, plus the new rows), for callers that overwrite their
    state table instead of merging ``updates`` into it. Lazy; materializing
    it costs a scan of the prior assignment.
    """

    df: DataFrame
    updates: DataFrame
    assignment: DataFrame


def reconcile_survivors_frontier(
    survivors: DataFrame,
    index_sigs: DataFrame,
    frontier_sigs: DataFrame,
    prior_assignment: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    prior_banded: DataFrame | None = None,
) -> FrontierReconcile:
    """Frontier-bounded X54: converge streamed near-dedup output to the
    from-scratch survivor set at a cost ∝ CHURN, not corpus.

    ``reconcile_survivors`` re-clusters the FULL index every invocation —
    O(corpus), the one maintenance op whose cost scaled with the table.
    This variant exploits what a reconcile leaves behind: a component is
    fully summarized by its minimum id (``prior_assignment``: one
    (node, cluster_id) row per doc that has appeared in a candidate pair,
    from ``cluster_assignment`` or a previous frontier reconcile). New
    edges can only be INCIDENT TO THE FRONTIER (docs ingested since the
    last reconcile) — old-old edges already existed — so:

    1. band-join the frontier's signatures against the index
       (``incremental_lsh_candidates`` — the same O(batch) shape the
       per-batch ingest uses, never a corpus re-bucketing);
    2. contract old endpoints to their prior cluster labels (a prior
       label IS its component's min doc id, so the label is a faithful
       stand-in for the whole component) — the REDUCED graph's nodes are
       frontier ids + touched prior labels, sized by the churn;
    3. run connected components on the reduced graph only — churn-sized,
       so ``connected_components`` labels it on the driver unless it
       exceeds its driver edge bound;
    4. a reduced component's new minimum over {frontier ids, prior
       labels} is the true new component minimum — every non-min member
       is a newly-bridged loser, dropped from ``survivors``;
    5. emit assignment updates: rows for fresh nodes, and relabels for
       all members of prior clusters whose label changed (one
       broadcast semi-join of the prior assignment on the changed
       labels — churn-proportional under bounded cluster sizes).

    EQUALITY with the full reconcile (asserted in
    tests/test_ext_operators.py and at 1M docs by
    tools/frontier_reconcile_probe.py): untouched components' minima
    cannot change (no new edges reach them), and touched components'
    new minima are computed exactly via the label contraction.

    Contract: ``survivors`` must be consistent with ``prior_assignment``
    (the previous reconcile's output plus batch survivors emitted since);
    ``frontier_sigs`` ⊆ ``index_sigs`` is the signatures of exactly the
    docs ingested since that reconcile. Cost: one frontier band join (the
    index side streams through at scan speed — the frontier side
    broadcasts), a reduced-graph CC, and two broadcast-pruned passes over
    the assignment table (column-pruned scans, no corpus-wide shuffle).

    ``prior_banded`` (r10) — the stored band-exploded rows of the PRIOR
    index ((id, band_idx, band_key), i.e. ``band_explode`` of the index
    minus the frontier), typically a band-key-clustered LakeTable read
    PRUNED to the files containing at least one frontier band key
    (prune_spec_isin). When given, the frontier band join consumes it
    directly instead of re-deriving bands from ``index_sigs`` — the one
    corpus-proportional scan in this function becomes a file-skipped
    partial read. Result-identical either way (banded_incremental_
    candidates docstring has the argument); ``index_sigs`` is then only
    used for its contract role and may be passed as the same frame."""
    from datalakefoundation_spark.ext.cluster import connected_components
    from datalakefoundation_spark.ext.dedup import (
        banded_incremental_candidates,
        incremental_lsh_candidates,
    )

    sig_cols = [id_col, *[f"h{i}" for i in range(num_hashes)]]
    frontier_ids = frontier_sigs.select(id_col)
    # churn-sized intermediates are localCheckpointed (eager): lineage is
    # cut once, the stored partitions are tiny, and the returned lazy
    # frames never re-pay the frontier band join — no persist lifecycle
    # for the caller to manage
    if prior_banded is not None:
        pairs = banded_incremental_candidates(
            prior_banded.select(id_col, "band_idx", "band_key"),
            frontier_sigs.select(*sig_cols),
            id_col,
            num_hashes,
            band_size,
        ).localCheckpoint(eager=True)
    else:
        prior_index = index_sigs.select(*sig_cols).join(
            F.broadcast(frontier_ids), id_col, "left_anti"
        )
        pairs = incremental_lsh_candidates(
            prior_index,
            frontier_sigs.select(*sig_cols),
            id_col,
            num_hashes,
            band_size,
        ).localCheckpoint(eager=True)
    endpoints = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionByName(pairs.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    # prune the assignment to the touched endpoints BEFORE joining the
    # pairs against it: endpoints are churn-sized and broadcastable, so
    # the big assignment table streams through a semi-join at scan
    # speed instead of shuffling for a sort-merge join
    lab = prior_assignment.join(
        F.broadcast(endpoints), "node", "left_semi"
    ).localCheckpoint(eager=True)
    la = lab.select(
        F.col("node").alias("doc_a"), F.col("cluster_id").alias("__ca")
    )
    lb = lab.select(
        F.col("node").alias("doc_b"), F.col("cluster_id").alias("__cb")
    )
    reduced = (
        pairs.join(F.broadcast(la), "doc_a", "left")
        .join(F.broadcast(lb), "doc_b", "left")
        .select(
            F.coalesce(F.col("__ca"), F.col("doc_a")).alias("doc_a"),
            F.coalesce(F.col("__cb"), F.col("doc_b")).alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
    )
    comp = connected_components(reduced).localCheckpoint(eager=True)
    # comp nodes are prior labels and fresh ids (frontier docs / old
    # singletons). Relabel prior clusters whose minimum changed ...
    changed = comp.where(F.col("node") != F.col("cluster_id"))
    relabeled_members = (
        prior_assignment.withColumnRenamed("cluster_id", "__old")
        .join(
            F.broadcast(changed.select(
                F.col("node").alias("__old"), "cluster_id"
            )),
            "__old",
        )
        .select("node", "cluster_id")
    )
    # ... and add first-time rows for nodes the prior assignment has never
    # seen. A reduced node is either a contracted prior LABEL (a value of
    # lab.cluster_id — every label c has its own (c, c) row, so a row-less
    # endpoint can never coincide with one) or a row-less endpoint — so
    # "fresh" is an anti-join of comp against the PRUNED label set, both
    # churn-sized, never against the full assignment table
    fresh = comp.join(
        lab.select(F.col("cluster_id").alias("node")).distinct(),
        "node",
        "left_anti",
    ).select("node", "cluster_id")
    updates = relabeled_members.unionByName(fresh)
    losers = (
        updates.where(F.col("node") != F.col("cluster_id"))
        .select(F.col("node").alias(id_col))
        .distinct()
    )
    reconciled = survivors.join(losers, id_col, "left_anti")
    assignment = (
        prior_assignment.join(
            F.broadcast(changed.select(F.col("node").alias("__chg"))),
            prior_assignment["cluster_id"] == F.col("__chg"),
            "left_anti",
        )
        .unionByName(updates)
    )
    return FrontierReconcile(
        df=reconciled, updates=updates, assignment=assignment
    )
