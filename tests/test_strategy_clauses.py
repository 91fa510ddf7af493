"""Merge and SCD2 clause semantics, checked against an independent model.

``merge_state`` / ``scd2_state`` run on adversarial target/source pairs and
their rows must equal a plain-Python model of the clauses, row for row and
including the ``__action`` tags. Reference semantics: Merge.scala:96-125,
Historic.scala:14-168.
"""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from datalakefoundation_spark.strategies import merge_state, scd2_state

SENTINEL = "2999-12-31 23:59:59"
T0, T1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"


def _mk_rows(seed: int, historic: bool):
    """Adversarial target/source pair: matched-changed, matched-unchanged,
    matched-source-deleted, target-only (in + out of the delete window),
    already-deleted target rows, source-only inserts, source-only deleted."""
    rng = random.Random(seed)
    tgt, src = [], []
    for k in range(40):
        pk = f"pk{k:03d}"
        in_tgt = rng.random() < 0.75
        in_src = rng.random() < 0.6
        t_hash = f"h{k}a"
        s_hash = t_hash if rng.random() < 0.4 else f"h{k}b"
        if in_tgt:
            row = {
                "PK": pk,
                "payload": f"t{k}",
                "SourceHash": t_hash,
                "deleted": rng.random() < 0.15,
                "lastSeen": T0,
                "win": rng.random() < 0.5,
            }
            if historic:
                row |= {"ValidFrom": T0, "ValidTo": SENTINEL, "IsCurrent": True}
                # some closed historical versions pass through untouched
                if rng.random() < 0.3:
                    tgt.append(
                        row
                        | {
                            "ValidTo": T0,
                            "IsCurrent": False,
                            "SourceHash": f"h{k}old",
                        }
                    )
            tgt.append(row)
        if in_src:
            row = {
                "PK": pk,
                "payload": f"s{k}",
                "SourceHash": s_hash,
                "deleted": rng.random() < 0.2,
                "lastSeen": T1,
                "win": True,
            }
            if historic:
                row |= {"ValidFrom": T1, "ValidTo": SENTINEL, "IsCurrent": True}
            src.append(row)
    return tgt, src


def _inputs(spark, seed: int, historic: bool, evolve: bool):
    """(target df, source df, extra_columns, target dicts, source dicts)."""
    tgt, src = _mk_rows(seed, historic)
    schema = (
        "PK string, payload string, SourceHash string, deleted boolean, "
        "lastSeen string, win boolean"
    )
    if historic:
        schema += ", ValidFrom string, ValidTo string, IsCurrent boolean"
        # a NULL IsCurrent (a segment written without temporal columns)
        # counts as current: blank it on every third current version
        for r in [r for r in tgt if r["IsCurrent"]][::3]:
            r["IsCurrent"] = None
    target = spark.createDataFrame(tgt, schema)
    extra = ()
    if evolve:
        for r in src:
            r["new_col"] = f"n_{r['PK']}"
        schema += ", new_col string"
        extra = ("new_col",)
    source = spark.createDataFrame(src, schema)
    return target, source, extra, tgt, src


class _Out:
    """Collects model output rows over the merge's output columns: the
    target's columns, then evolved ones (NULL where the source row is not
    taken), then ``__action`` when requested."""

    def __init__(self, tgt, extra, action: bool):
        self.cols = list(tgt[0]) + list(extra)
        self.action = action
        self.rows = []

    def emit(self, row: dict, tag: str):
        r = {c: row.get(c) for c in self.cols}
        if self.action:
            r["__action"] = tag
        self.rows.append(r)

    @property
    def columns(self):
        return self.cols + (["__action"] if self.action else [])


def _merge_model(tgt, src, delete_missing, action, extra):
    """The merge clauses in first-match order (``merge_state`` docstring)."""
    out = _Out(tgt, extra, action)
    by_pk = {s["PK"]: s for s in src}
    for t in tgt:
        s = by_pk.get(t["PK"])
        if s is not None and s["deleted"]:
            out.emit(t | {"deleted": True, "lastSeen": s["lastSeen"]}, "soft_delete")
        elif s is not None and s["SourceHash"] != t["SourceHash"]:
            out.emit(s, "update")
        elif s is not None:
            out.emit(t | {"lastSeen": s["lastSeen"]}, "touch")
        elif delete_missing and t["win"] and not t["deleted"]:
            out.emit(t | {"deleted": True, "lastSeen": T1}, "infer_delete")
        else:
            out.emit(t, "keep")
    tgt_pks = {t["PK"] for t in tgt}
    for s in src:
        if s["PK"] in tgt_pks:
            continue
        if not s["deleted"]:
            out.emit(s, "insert")
        elif action:
            # kept only so the observe-based metrics can count it
            out.emit(s, "skip_delete")
    return out


def _scd2_model(tgt, src, delete_missing, action, extra):
    """The SCD2 clauses per current version (``scd2_state`` docstring)."""
    out = _Out(tgt, extra, action)
    by_pk = {s["PK"]: s for s in src}
    current_pks = set()
    for t in tgt:
        if t["IsCurrent"] is False:
            out.emit(t, "historical")
            continue
        current_pks.add(t["PK"])
        s = by_pk.get(t["PK"])
        if s is not None and s["SourceHash"] != t["SourceHash"]:
            out.emit(t | {"ValidTo": T1, "IsCurrent": False}, "close")
            out.emit(s, "new_version")
        elif s is not None:
            out.emit(t, "unchanged")
        elif delete_missing and t["win"] and not t["deleted"]:
            out.emit(
                t | {"ValidTo": T1, "IsCurrent": False, "deleted": True, "lastSeen": T1},
                "delete_close",
            )
        else:
            out.emit(t, "keep")
    for s in src:
        if s["PK"] not in current_pks:
            out.emit(s, "insert")
    return out


def _canon_value(v):
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return v


def _canon(rows, cols):
    return sorted(
        (tuple(_canon_value(r[c]) for c in sorted(cols)) for r in rows), key=repr
    )


def _check(state, model):
    assert state.columns == model.columns
    got = _canon([r.asDict() for r in state.collect()], model.columns)
    assert got == _canon(model.rows, model.columns)


@pytest.mark.parametrize("seed", [3, 17])
@pytest.mark.parametrize("delete_missing", [False, True])
@pytest.mark.parametrize("action", [False, True])
@pytest.mark.parametrize("evolve", [False, True])
def test_merge_clauses_match_model(spark, seed, delete_missing, action, evolve):
    target, source, extra, tgt, src = _inputs(spark, seed, historic=False, evolve=evolve)
    state = merge_state(
        target,
        source,
        pk="PK",
        processing_time=T1,
        delete_window=F.col("t.win") if delete_missing else None,
        delete_missing=delete_missing,
        with_action_column=action,
        extra_columns=extra,
    )
    _check(state, _merge_model(tgt, src, delete_missing, action, extra))


@pytest.mark.parametrize("seed", [7, 29])
@pytest.mark.parametrize("delete_missing", [False, True])
@pytest.mark.parametrize("action", [False, True])
@pytest.mark.parametrize("evolve", [False, True])
def test_scd2_clauses_match_model(spark, seed, delete_missing, action, evolve):
    target, source, extra, tgt, src = _inputs(spark, seed, historic=True, evolve=evolve)
    state = scd2_state(
        target,
        source,
        pk="PK",
        processing_time=T1,
        delete_window=F.col("t.win") if delete_missing else None,
        delete_missing=delete_missing,
        with_action_column=action,
        extra_columns=extra,
    )
    _check(state, _scd2_model(tgt, src, delete_missing, action, extra))
