"""The benchmark's workloads.

Each workload is a closed loop driven from one process: it sets up a
lakehouse from seeded inputs, then repeats its unit of work until the
measuring window ends, checking every result against the generator's
prediction. Failures are counted, never raised.

Every workload reports the same end-to-end metrics, over its own ingest
operation, its own reads and the table it writes (see README.md).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

import numpy as np
from pyspark.sql import functions as F

from datalakefoundation_spark.ext import recipes
from datalakefoundation_spark.metadata.models import Metadata
from datalakefoundation_spark.metadata.sources import StringMetadataSettings
from datalakefoundation_spark.orchestrate import process_entities
from datalakefoundation_spark.tables.lake_table import LakeTable, prune_spec_isin
from datalakefoundation_spark.watermark import WatermarkStore

import inputs
from tracing import Tracer

SEQ_WATERMARK = [
    {"column_name": "SeqNr", "operation": "and", "operation_group": 0,
     "expression": "'${last_value}'"}
]
ID_KEY = {"name": "ID", "fieldroles": ["businesskey"]}

# Input sizes, chosen so that one run of either workload takes about a
# minute on a 4-core host; README.md has the timings at larger sizes.
# "scans": aggregate scans after each unit of work (point reads: one per
# probe the generator plants)
CDC = {"n_keys": 40_000, "slice_rows": 2_000, "rows_per_bucket": 4_000, "auto_optimize": 2,
       "scans": 1}
CORPUS = {"docs": 4_000, "scans": 3}
# untimed units of work after the bootstrap: the first run of each plan
# shape pays code generation and JIT compilation
WARMUP = 1
# a run measures at least MIN_ROUNDS iterations, even past the window, and
# inputs are generated up front for at most MAX_ROUNDS
MIN_ROUNDS = 2
MAX_ROUNDS = 20


def metadata(root: str, connection: str, entities: list[dict]) -> Metadata:
    config = {
        "environment": {"name": "bench", "timezone": "UTC", "root_folder": root,
                        "systemfield_prefix": "", "output": "paths"},
        "connections": [{"name": connection, "enabled": True, "settings": {}}],
        "entities": entities,
    }
    return Metadata(StringMetadataSettings().initialize(json.dumps(config)))


def processing_time(i: int) -> str:
    """A distinct, increasing processing time per slice."""
    return str(inputs.EPOCH.astype("datetime64[s]") + np.timedelta64(3600 * (i + 1), "s")).replace("T", " ")


def walk(root: str) -> dict[str, int]:
    """Every file under ``root`` with its size."""
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # removed by vacuum mid-walk
                pass
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and every
    live process below it: the benchmark, its Spark JVM and the JVM's
    Python workers."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = int(fields[11]) + int(fields[12])
    children: dict[int, list[int]] = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children[pid])
    return total / os.sysconf("SC_CLK_TCK")


def local_size(uri: str) -> int:
    return os.path.getsize(uri[len("file:"):] if uri.startswith("file:") else uri)


class Harness:
    """Shared state of one run: counters, samples and the tracer."""

    def __init__(self, spark, root: str, seconds: float, trace: bool, t_start: float) -> None:
        self.spark = spark
        self.root = root
        self.seconds = seconds
        self.trace = trace
        self.t_start = t_start
        self.setup_s = 0.0
        self.op_start = 0.0  # start of the last timed ingest operation
        self.pid = os.getpid()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.s: dict[str, list[float]] = defaultdict(list)
        self.tracer = Tracer()
        self.tracer.install()

    def close(self) -> None:
        self.tracer.uninstall()

    # ------------------------------------------------------------ accounting
    def call(self, what: str, fn):
        """Run one operation; a raise counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - counted, the run goes on
            self.failed += 1
            self.problems.append(f"{what}: {exc!r}")
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.problems.append(what)
            print(f"check failed: {what}", file=sys.stderr)

    def end_setup(self) -> None:
        """Close set-up: time it and drop the samples its warm-up took."""
        self.setup_s = time.perf_counter() - self.t_start
        self.s.clear()
        self.tracer.take_calls()

    # ------------------------------------------------------------ iterations
    def iterations(self):
        """Yield iteration numbers until the measuring window closes. In
        traced runs every other iteration is traced, so the same run also
        measures the tracing overhead on its ingest operations."""
        deadline = time.perf_counter() + self.seconds
        i = 0
        while (time.perf_counter() < deadline or i < MIN_ROUNDS) and i < MAX_ROUNDS:
            traced = self.trace and i % 2 == 0
            self.tracer.enabled = traced
            yield i
            i += 1
        self.tracer.enabled = False

    def span(self, name: str, kind: str | None = None, sc=None):
        return self.tracer.span(name, kind, sc) if self.trace else nullcontext()

    # ------------------------------------------------------------ ingest
    def ingest(self, fn, rows: int, nbytes: int, timed: bool):
        """Run one ingest operation ``fn``; when timed, record its wall, its
        input and the bytes it wrote under the lake root."""
        if not timed:
            return fn()
        before = walk(self.root)
        cpu = tree_cpu_s(self.pid)
        self.op_start = t = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t
        self.s["op_cpu"].append(tree_cpu_s(self.pid) - cpu)
        after = walk(self.root)
        added = [size for p, size in after.items() if p not in before]
        self.s["op"].append(wall)
        self.s["op_traced" if self.tracer.enabled else "op_plain"].append(wall)
        self.s["rows"].append(rows)
        self.s["in_bytes"].append(nbytes)
        self.s["out_bytes"].append(sum(added))
        self.s["out_files"].append(len(added))
        return out

    def entity_runs(self, runs, items, what: str) -> list:
        """Count the ``process_entities`` runs; return the summaries (None
        for a failed run)."""
        self.attempted += len(runs)
        out = []
        for r, (entity_id, f) in zip(runs, items):
            if not r.ok:
                self.failed += 1
                self.problems.append(f"{what} entity {entity_id} {f}: {r.error!r}")
            out.append(r.summary if r.ok else None)
        return out

    def entity_calls(self, workers: int) -> None:
        """Account the ``Processing.process`` calls of the last timed
        ingest operation, a ``process_entities`` call with ``workers``."""
        calls = self.tracer.take_calls()
        wall = self.s["op"][-1]
        self.s["items"].append(len(calls))
        self.s["batch_wall"].append(wall)
        self.s["capacity"].append(workers * wall)
        self.s["process_wall"].extend(w for _, w in calls)
        self.s["queue_wait"].extend(t - self.op_start for t, _ in calls)

    def watermark_ok(self, entity_id: int, expected: int, what: str) -> None:
        got = WatermarkStore(self.spark, self.root).latest(entity_id).get("SeqNr")
        self.check(got == str(expected), f"{what}: watermark {got} != {expected}")

    # ------------------------------------------------------------ reads
    def point_read(self, path: str, key_col: str, key: int, cols: list[str]):
        """One user-visible lookup by key; returns the rows."""
        with self.span("bench.point_read", kind="read"):
            cpu, t = tree_cpu_s(self.pid), time.perf_counter()
            df = LakeTable(self.spark, path, warn_on_layout_mismatch=False).read(
                prune_spec=prune_spec_isin(key_col, [key]))
            rows = df.where(F.col(key_col) == key).select(*cols).collect()
            self.s["point"].append(time.perf_counter() - t)
            self.s["read_cpu"].append(tree_cpu_s(self.pid) - cpu)
        if self.tracer.enabled:
            self._read_shape(path, df)
        return rows

    def scan_read(self, path: str, aggs, sample_space: bool = True):
        """One aggregate scan of a table; returns the single row."""
        with self.span("bench.scan_read", kind="read"):
            cpu, t = tree_cpu_s(self.pid), time.perf_counter()
            df = LakeTable(self.spark, path, warn_on_layout_mismatch=False).read()
            row = df.agg(F.count(F.lit(1)).alias("rows"), *aggs).head()
            self.s["scan"].append(time.perf_counter() - t)
            self.s["read_cpu"].append(tree_cpu_s(self.pid) - cpu)
        if self.tracer.enabled:
            self._read_shape(path, df)
        if sample_space and row["rows"]:
            live = sum(local_size(u) for u in df.inputFiles())
            self.s["bytes_per_row"].append(live / row["rows"])
        return row

    def _read_shape(self, path: str, df) -> None:
        self.s["files_per_read"].append(len(df.inputFiles()))
        mf = LakeTable(self.spark, path, warn_on_layout_mismatch=False).latest_manifest()
        self.s["live_segments"].append(len(mf.segments) if mf else 0)

    # ------------------------------------------------------------ results
    def end_to_end(self) -> dict[str, tuple[float, str]]:
        """The gated end-to-end metrics: set-up time, the CPU the work
        costs, and bytes. Wall-clock latencies drift with the host's speed
        by more than any usable bound, so they are in ``walls``."""
        s = self.s
        return {
            "setup_s": (self.setup_s, "s"),
            "ingest_cpu_s": (statistics.mean(s["op_cpu"]), "s"),
            "read_cpu_s": (statistics.mean(s["read_cpu"]), "s"),
            "write_amp": (sum(s["out_bytes"]) / sum(s["in_bytes"]), "ratio"),
            "silver_bytes_per_row": (statistics.median(s["bytes_per_row"]), "B/row"),
        }

    def walls(self, items_wall: float) -> dict[str, float]:
        """Wall-clock latencies and rates, reported beside the result.
        ``items_wall``: wall of the calls that drove the work items."""
        s = self.s
        return {
            "ingest_p50_s": statistics.median(s["op"]),
            "ingest_rows_per_s": sum(s["rows"]) / sum(s["op"]),
            "fleet_items_per_s": sum(s["items"]) / items_wall,
            "point_read_p50_s": statistics.median(s["point"]),
            "scan_read_p50_s": statistics.median(s["scan"]),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        s = self.s
        n_ops = len(s["op"])
        out = {k: (v, "count" if k.endswith(("_calls", "_per_op")) else "s")
               for k, v in self.tracer.layer_metrics().items()}
        out["lake_table.bytes_written"] = (sum(s["out_bytes"]) / n_ops, "B")
        out["lake_table.files_written"] = (sum(s["out_files"]) / n_ops, "count")
        out["lake_table.files_per_read"] = (statistics.mean(s["files_per_read"]), "count")
        out["lake_table.live_segments"] = (statistics.mean(s["live_segments"]), "count")
        capacity = sum(s["capacity"])
        out["orchestrate.busy_frac"] = (sum(s["process_wall"]) / capacity if capacity else 0.0, "ratio")
        out["orchestrate.queue_wait_s"] = (
            statistics.mean(s["queue_wait"]) if s["queue_wait"] else 0.0, "s")
        out["trace.overhead_frac"] = (
            statistics.median(s["op_traced"]) / statistics.median(s["op_plain"]) - 1.0,
            "ratio",
        )
        return out


# ---------------------------------------------------------------- cdc_upsert
def cdc_upsert(h: Harness, seed: int) -> float:
    """One client feeds a CDC stream into three entities at once, one
    ``process_entities`` call per slice: a PK-bucketed copy-on-write merge
    entity with delete inference, a day-partitioned SCD2 entity, and a
    merge-on-read merge entity whose auto-compaction cycles within the run.
    Each slice is followed by an aggregate scan and point lookups on the
    merge-on-read table. Returns the wall of the ingest calls."""
    cfg = CDC
    merge = {"delete_missing": True, "bronze_path": "/cdc/orders"}
    md = metadata(h.root, "cdc", [
        {"id": 1, "name": "orders", "connection": "cdc", "processtype": "merge",
         "watermark": SEQ_WATERMARK, "columns": [ID_KEY],
         "settings": {**merge, "bucketing.rows_per_bucket": cfg["rows_per_bucket"]}},
        {"id": 2, "name": "orders_history", "connection": "cdc", "processtype": "historic",
         "watermark": SEQ_WATERMARK,
         "columns": [ID_KEY, {"name": "", "newname": "Day", "expression": "to_date(CreatedAt)",
                              "fieldroles": ["calculated", "partition"]}],
         "settings": {"bronze_path": "/cdc/orders"}},
        {"id": 3, "name": "orders_mor", "connection": "cdc", "processtype": "merge",
         "watermark": SEQ_WATERMARK, "columns": [ID_KEY],
         "settings": {**merge, "write_mode": "mor",
                      "maintenance.auto_optimize": cfg["auto_optimize"]}},
    ])
    bronze = md.get_entity(1).get_output().bronzepath.value
    cow_path, hist_path, mor_path = (md.get_entity(i).get_output().silverpath.value for i in (1, 2, 3))
    stream = inputs.CdcStream(seed, bronze, cfg["n_keys"], cfg["slice_rows"])
    slices = [stream.next_slice() for _ in range(1 + WARMUP + MAX_ROUNDS)]
    workers = 3

    def merge_silver_ok(path: str, e: inputs.CdcExpect, timed: bool, what: str) -> None:
        row = h.call(f"{what} scan", lambda: h.scan_read(path, [
            F.sum(F.col("deleted").cast("long")).alias("deleted"),
            F.sum(F.when(~F.col("deleted"), F.col("amount_cents"))).alias("amount"),
        ], sample_space=timed))
        if row is not None:
            got = (row["rows"], row["deleted"], row["amount"])
            want = (e.m_rows, e.m_deleted, e.m_amount)
            h.check(got == want, f"{what} silver after {e.file}: {got} != {want}")

    def step(i: int, e: inputs.CdcExpect, timed: bool, reads: bool = True) -> None:
        items = [(1, e.file), (2, e.file), (3, e.file)]
        opts = {"processing.time": processing_time(i)}
        runs = h.ingest(lambda: process_entities(h.spark, md, items, parallelism=workers,
                                                 options=opts), e.rows, e.bytes, timed)
        if timed:
            h.entity_calls(workers)
        sm, sh, smor = h.entity_runs(runs, items, "cdc")
        for what, summary in (("merge", sm), ("merge-on-read", smor)):
            if summary is not None:
                got = (summary.inserted, summary.updated, summary.deleted, summary.inferred_deletes)
                want = (e.inserted, e.updated, e.deleted, e.inferred)
                h.check(got == want, f"{what} {e.file}: counts {got} != {want}")
        if sh is not None:
            got = (sh.inserted, sh.updated, sh.unchanged)
            want = (e.h_inserted, e.h_updated, e.h_unchanged)
            h.check(got == want, f"historic {e.file}: counts {got} != {want}")
        for entity_id, _ in items:
            h.watermark_ok(entity_id, e.max_seq, f"entity {entity_id} {e.file}")
        if not reads:
            return
        # an untimed warm-up runs each kind of read once
        for _ in range(cfg["scans"] if timed else 1):
            merge_silver_ok(mor_path, e, timed, "merge-on-read")
        for key, want in list(e.probes.items())[: None if timed else 1]:
            rows = h.call("point read", lambda: h.point_read(
                mor_path, "ID", key, ["name", "amount_cents", "status", "deleted"]))
            if rows is not None:
                got = [tuple(r) for r in rows]
                h.check(got == [want], f"point read {key} after {e.file}: {got} != {want}")

    # bootstrap (every key once), then warm-up slices, which warm the reads
    for i in range(1 + WARMUP):
        step(i, slices[i], timed=False, reads=i > 0)
    h.end_setup()
    first = 1 + WARMUP
    last = slices[first - 1]
    for i in h.iterations():
        last = slices[first + i]
        step(first + i, last, timed=True)
    merge_silver_ok(cow_path, last, False, "merge")
    row = h.call("final historic scan", lambda: LakeTable(h.spark, hist_path, ["Day"]).read().agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("IsCurrent").cast("long")).alias("open")).head())
    if row is not None:
        got, want = (row["rows"], row["open"]), (last.h_rows, last.h_open)
        h.check(got == want, f"final historic silver: {got} != {want}")
    return sum(h.s["batch_wall"])


# ---------------------------------------------------------------- corpus_clean
def corpus_clean(h: Harness, seed: int) -> float:
    """``clean_corpus`` over a seeded raw corpus: each operation runs the
    recipe, materializes its ``df`` and writes the cleaned corpus to a lake
    table, which is then scanned and probed by doc id. Returns the wall of
    the operations."""
    raw = os.path.join(h.root, "bronze", "corpus", "docs.parquet")
    gold = os.path.join(h.root, "gold", "corpus")
    exp = inputs.make_corpus(seed, raw, CORPUS["docs"])
    docs = h.spark.read.parquet(raw)
    sc = h.spark.sparkContext

    def op() -> int:
        with h.span("corpus.clean", kind="ingest", sc=sc):
            res = recipes.clean_corpus(docs)
            with h.span("ext.materialize"):
                out = res.df.persist()
                n = out.count()
            LakeTable(h.spark, gold).overwrite(out)
            out.unpersist()
            res.unpersist()
        return n

    def step(timed: bool) -> None:
        n = h.call("clean_corpus", lambda: h.ingest(op, exp.docs, exp.bytes, timed))
        if n is not None:
            h.s["items"].append(1)
            h.check(n == exp.survivors, f"clean_corpus survivors {n} != {exp.survivors}")
        for _ in range(CORPUS["scans"] if timed else 1):
            row = h.call("scan", lambda: h.scan_read(
                gold, [F.sum(F.length("text")).alias("chars")], sample_space=timed))
            if row is not None:
                got, want = (row["rows"], row["chars"]), (exp.survivors, exp.chars)
                h.check(got == want, f"cleaned corpus {got} != {want}")
        for doc_id, text in list(exp.probes.items())[: None if timed else 1]:
            rows = h.call("point read", lambda: h.point_read(gold, "doc_id", doc_id, ["text"]))
            if rows is not None:
                got = [r["text"] for r in rows]
                h.check(got == [text], f"cleaned doc {doc_id}: {got} != {[text]}")

    for _ in range(WARMUP):
        step(timed=False)
    h.end_setup()
    for _ in h.iterations():
        step(timed=True)
    return sum(h.s["op"])


WORKLOADS = {
    "cdc_upsert": cdc_upsert,
    "corpus_clean": corpus_clean,
}
