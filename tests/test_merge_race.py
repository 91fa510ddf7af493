"""Concurrent same-entity merge race (two OS processes, one silver table).

test_multiprocess_commit proves the CAS for control-plane appends; this is
the missing adversarial case from the fleet-safety claim
(orchestrate.py:1-14): two independent merge WRITERS — read target state,
compute post-merge state, commit — racing on the SAME entity. A
file-barrier between the read and the commit forces true overlap
deterministically (no timing luck). Required outcome: exactly one writer
lands, the loser fails CLEANLY with ConcurrentCommitException (never a
blind retry that would clobber the winner's rows with a stale-read state),
the version chain stays contiguous, no rows are lost, the loser's orphaned
segment is reclaimable, and the documented recovery (re-read + recompute +
re-commit) lands the loser's update afterwards.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = """
import sys, os, time
sys.path.insert(0, sys.argv[4])
table_path, wid, barrier_dir = sys.argv[1], int(sys.argv[2]), sys.argv[3]

from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .appName(f"merge_racer_{wid}")
    .getOrCreate()
)
from pyspark.sql import functions as F
from datalakefoundation_spark.tables.lake_table import LakeTable
from datalakefoundation_spark.strategies import merge_state
from datalakefoundation_spark.core.exceptions import ConcurrentCommitException

table = LakeTable(spark, table_path)
base = table.latest_manifest()

# each writer updates ITS half of the keys (disjoint slices, same entity)
lo, hi = (0, 5) if wid == 0 else (5, 10)
slice_rows = [
    (k, f"w{wid}_new", f"h{k}_w{wid}", False, "2026-02-01 00:00:00")
    for k in range(lo, hi)
]
source = spark.createDataFrame(
    slice_rows, "ID long, name string, SourceHash string, deleted boolean, lastSeen string"
)

target = table.read(version=base.version)
state = merge_state(target, source, "ID", processing_time="2026-02-01 00:00:00")
# force the state computation NOW so both writers hold a fully-derived
# post-merge state from the SAME base version before either commits
rows = state.collect()
frozen = spark.createDataFrame(rows, state.schema)

# barrier: both writers must pass the read+compute phase before any commit
open(os.path.join(barrier_dir, f"ready_{wid}"), "w").close()
deadline = time.time() + 120
while len([f for f in os.listdir(barrier_dir) if f.startswith("ready_")]) < 2:
    if time.time() > deadline:
        print("BARRIER_TIMEOUT", flush=True)
        sys.exit(3)
    time.sleep(0.05)

try:
    table.overwrite(frozen, operation=f"merge_w{wid}", base=base)
    print(f"COMMITTED {wid}", flush=True)
    sys.exit(0)
except ConcurrentCommitException:
    print(f"LOST_RACE {wid}", flush=True)
    sys.exit(42)
"""


def _seed_rows():
    return [
        (k, "orig", f"h{k}", False, "2026-01-01 00:00:00") for k in range(10)
    ]


@pytest.mark.slow  # multi-minute certification/equivalence run: builder gate only (r12, VERDICT r11 #1)
def test_concurrent_same_entity_merge_race(spark, tmp_path):
    from datalakefoundation_spark.tables.lake_table import LakeTable

    table_path = str(tmp_path / "entity_table")
    barrier = str(tmp_path / "barrier")
    os.makedirs(barrier)
    table = LakeTable(spark, table_path)
    table.overwrite(
        spark.createDataFrame(
            _seed_rows(),
            "ID long, name string, SourceHash string, deleted boolean, lastSeen string",
        ),
        operation="full",
    )
    v0 = table.latest_manifest().version

    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _WORKER, table_path, str(w), barrier, REPO],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for w in range(2)
    ]
    results = {}
    for w, p in enumerate(procs):
        out, err = p.communicate(timeout=600)
        assert p.returncode in (0, 42), (p.returncode, err.decode()[-2000:])
        results[w] = p.returncode

    # exactly one winner, one clean loser — both reached the barrier with
    # state computed from the same base version, so both tried v0+1
    assert sorted(results.values()) == [0, 42], results

    mf = table.latest_manifest()
    assert mf.version == v0 + 1  # contiguous: winner landed, loser left no gap
    for v in range(mf.version + 1):
        table.manifest_at(v)

    winner = next(w for w, rc in results.items() if rc == 0)
    rows = {r["ID"]: r for r in table.read().collect()}
    assert set(rows) == set(range(10))  # no lost rows
    w_lo, w_hi = (0, 5) if winner == 0 else (5, 10)
    for k in range(10):
        if w_lo <= k < w_hi:
            assert rows[k]["name"] == f"w{winner}_new", (k, rows[k])
        else:  # loser's keys untouched — its state never landed
            assert rows[k]["name"] == "orig", (k, rows[k])

    # loser's orphaned segment dir is reclaimable once older than the guard
    time.sleep(1.1)
    removed = table.gc_orphans(older_than_seconds=1.0)
    live = {s.dir for s in table.latest_manifest().segments}
    assert all(d not in live for d in removed)

    # documented recovery: the loser re-reads, recomputes, re-commits — its
    # update lands at the next version on top of the winner's state
    from datalakefoundation_spark.strategies import merge_state

    loser = 1 - winner
    lo, hi = (0, 5) if loser == 0 else (5, 10)
    source = spark.createDataFrame(
        [(k, f"w{loser}_new", f"h{k}_w{loser}", False, "2026-03-01 00:00:00")
         for k in range(lo, hi)],
        "ID long, name string, SourceHash string, deleted boolean, lastSeen string",
    )
    state = merge_state(table.read(), source, "ID", processing_time="2026-03-01 00:00:00")
    table.overwrite(state, operation=f"merge_w{loser}_retry")
    assert table.latest_manifest().version == v0 + 2
    rows = {r["ID"]: r for r in table.read().collect()}
    for k in range(10):
        expect = f"w{winner}_new" if w_lo <= k < w_hi else f"w{loser}_new"
        assert rows[k]["name"] == expect, (k, rows[k])


# ------------------------------------------- single-process interleaving
# Writer A plans a merge from v0; writer B's run commits v1 just before A's
# commit call. A must fail the compare-and-swap: committing at v2 on top of
# v1 with a state computed from v0 drops (rewrite) or masks (patch) B's rows.
_INTERLEAVE = {
    # op: (metadata partitioned?, write_mode, A's key, B's key)
    "overwrite": (False, "cow", 3, 99),
    "replace_partitions": (True, "cow", 3, 99),  # 3 and 99: partition 1
    "merge_patch": (False, "mor", 5, 5),
}


@pytest.mark.parametrize("op", sorted(_INTERLEAVE))
def test_merge_commits_on_the_manifest_it_planned_from(
    spark, lake_root, prefix, monkeypatch, op
):
    from datalakefoundation_spark.core.exceptions import ConcurrentCommitException
    from datalakefoundation_spark.processing import Processing
    from datalakefoundation_spark.tables.lake_table import LakeTable
    from tests.helpers import T0, T1, T2, make_metadata, write_slice

    partitioned, mode, a_key, b_key = _INTERLEAVE[op]
    md = make_metadata(lake_root, prefix, partitioned=partitioned, watermark=False)

    def run(name, keys, writer, t):
        rows = [
            {"ID": k, "SeqNr": k, "name": f"{writer}{k}", "data": f"d{k}"} for k in keys
        ]
        write_slice(spark, md, name, rows)
        p = Processing(spark, md, 1, name, {"processing.time": t, "write_mode": mode})
        p.process("merge")
        return p

    path = run("s0.parquet", range(10), "orig", T0).silver_table().path  # v0

    orig = getattr(LakeTable, op)
    calls = []

    def b_commits_first(self, *args, **kwargs):
        calls.append(op)
        if len(calls) == 1:  # A's commit: B's whole run lands before it
            run("b.parquet", [b_key], "b", T2)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, op, b_commits_first)
    lost = None
    try:
        run("a.parquet", [a_key], "a", T1)
    except ConcurrentCommitException as exc:
        lost = exc
    assert calls == [op, op]  # A's and B's runs both took the op under test

    table = LakeTable(spark, path)
    rows = {r["ID"]: r["name"] for r in table.read().select("ID", "name").collect()}
    assert rows.get(b_key) == f"b{b_key}", f"writer B's key {b_key} lost: {rows.get(b_key)}"
    assert lost is not None, "A committed on top of B with a state planned from v0"
    assert table.latest_manifest().version == 1
    assert set(rows) == set(range(10)) | {b_key}
    assert all(
        name == f"orig{k}" for k, name in rows.items() if k != b_key
    ), rows
