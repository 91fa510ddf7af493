"""Call timing and span tracing around the public calls the benchmark drives.

The tracer wraps functions of the package from the outside (module
attributes and class methods are replaced for the life of the run), so the
program under test carries no tracing code. ``Processing.process`` is
always wrapped: every call's start and wall time are recorded, from any
thread. Spans are recorded only while ``enabled`` is set; they live in
memory and are written out once, at the end of a run.

A span records its name, start, end, parent span, operation id and thread.
Each thread keeps its own span stack, so concurrent ``Processing.process``
calls under ``orchestrate.process_entities`` nest correctly. The outermost
span on a thread starts a new operation; its kind ("ingest" or "read")
decides which per-layer metrics it feeds. An ingest operation tags its
Spark jobs with a job group, so the jobs and tasks it launched can be
counted from the status tracker afterwards.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# layer metric -> span names whose self time it sums, per ingest operation
SELF_TIME = {
    "processing.get_source_s": ("processing.get_source",),
    "pipeline.apply_pipeline_s": ("pipeline.apply_pipeline",),
    "strategies.merge_state_s": ("strategies.merge_state",),
    "strategies.scd2_state_s": ("strategies.scd2_state",),
    "lake_table.write_s": (
        "lake_table.overwrite",
        "lake_table.replace_partitions",
        "lake_table.merge_patch",
    ),
    "lake_table.maintenance_s": (
        "lake_table.compact_small_segments",
        "lake_table.optimize",
        "lake_table.vacuum",
        "lake_table.gc_orphans",
    ),
    "watermark.write_s": ("watermark.write",),
    "watermark.latest_s": ("watermark.latest",),
    "log.log_s": ("log.log",),
    "log.flush_s": ("log.flush",),
    "ext.recipes.clean_corpus_s": ("ext.recipes.clean_corpus",),
    "ext.cluster.connected_components_s": ("ext.cluster.connected_components",),
    "ext.materialize_s": ("ext.materialize",),
}


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.calls: list[tuple[float, float]] = []  # (start, wall) per process()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, kind: str | None = None, sc=None):
        """Record a span. Outside an operation, only a call that names an
        operation kind opens one; other calls (the benchmark's own checks)
        are not recorded. An ingest operation given a SparkContext ``sc``
        counts the Spark jobs and tasks it launched."""
        stack = self._stack()
        if not self.enabled or (not stack and kind is None):
            yield None
            return
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else sid,
            "kind": parent["kind"] if parent else kind,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
            "end": None,
        }
        group = f"perfbench-{sid}" if sc is not None and parent is None and kind == "ingest" else None
        if group:
            sc.setJobGroup(group, name)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec["jobs"], rec["tasks"] = _job_counts(sc, group)
            with self._lock:
                self.spans.append(rec)

    def take_calls(self) -> list[tuple[float, float]]:
        """The ``Processing.process`` calls since the last take."""
        with self._lock:
            out, self.calls = self.calls, []
        return out

    # ------------------------------------------------------------ install
    def _wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def _wrap_process(self, processing_cls) -> None:
        orig = processing_cls.process
        tracer = self

        @functools.wraps(orig)
        def process(proc, *args, **kwargs):
            t = time.perf_counter()
            try:
                with tracer.span("processing.process", "ingest", proc.spark.sparkContext):
                    return orig(proc, *args, **kwargs)
            finally:
                with tracer._lock:
                    tracer.calls.append((t, time.perf_counter() - t))

        processing_cls.process = process
        self._undo.append((processing_cls, "process", orig))

    def install(self) -> None:
        from datalakefoundation_spark import pipeline, strategies
        from datalakefoundation_spark.ext import cluster, recipes
        from datalakefoundation_spark.log import DatalakeLogManager
        from datalakefoundation_spark.processing import Processing
        from datalakefoundation_spark.tables.lake_table import LakeTable
        from datalakefoundation_spark.watermark import WatermarkStore

        self._wrap_process(Processing)
        self._wrap(Processing, "get_source", "processing.get_source")
        self._wrap(pipeline, "apply_pipeline", "pipeline.apply_pipeline")
        self._wrap(strategies, "merge_state", "strategies.merge_state")
        self._wrap(strategies, "scd2_state", "strategies.scd2_state")
        for meth in (
            "overwrite", "replace_partitions", "merge_patch", "read", "latest_manifest",
            "compact_small_segments", "optimize", "vacuum", "gc_orphans",
        ):
            self._wrap(LakeTable, meth, f"lake_table.{meth}")
        self._wrap(WatermarkStore, "write", "watermark.write")
        self._wrap(WatermarkStore, "latest", "watermark.latest")
        self._wrap(DatalakeLogManager, "log", "log.log")
        self._wrap(DatalakeLogManager, "flush", "log.flush")
        self._wrap(recipes, "clean_corpus", "ext.recipes.clean_corpus")
        self._wrap(cluster, "connected_components", "ext.cluster.connected_components")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ analysis
    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], ())):
                a, b = max(a, cursor), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cursor = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics over the traced operations.

        Times of ingest-side layers are self seconds per ingest operation;
        ``lake_table.read_s`` is self seconds of ``LakeTable.read`` per
        benchmark read; manifest metrics are per operation of either kind;
        Spark job and task counts are per ingest operation."""
        selft = self.self_times()
        tops = [s for s in self.spans if s["parent"] is None]
        ingest = [s for s in tops if s["kind"] == "ingest"]
        n_ingest = max(1, len(ingest))
        n_read = max(1, sum(1 for s in tops if s["kind"] == "read"))
        by_name: dict[str, float] = defaultdict(float)
        for s in self.spans:
            by_name[s["name"]] += selft[s["id"]]
        out = {m: sum(by_name[n] for n in names) / n_ingest for m, names in SELF_TIME.items()}
        out["lake_table.read_s"] = (
            sum(selft[s["id"]] for s in self.spans
                if s["name"] == "lake_table.read" and s["kind"] == "read") / n_read
        )
        manifest = [s for s in self.spans if s["name"] == "lake_table.latest_manifest"]
        out["lake_table.latest_manifest_calls"] = len(manifest) / (n_ingest + n_read)
        out["lake_table.latest_manifest_s"] = (
            sum(selft[s["id"]] for s in manifest) / (n_ingest + n_read)
        )
        out["spark.jobs_per_op"] = sum(s.get("jobs", 0) for s in ingest) / n_ingest
        out["spark.tasks_per_op"] = sum(s.get("tasks", 0) for s in ingest) / n_ingest
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f)


def _job_counts(sc, group: str) -> tuple[int, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks
