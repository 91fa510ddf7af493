"""Model-based merge test: random slice sequences vs a dict reference model.

The example-based tests pin individual clauses (J1-J5); this drives the
WHOLE merge strategy with seeded-random multi-slice histories and checks the
final table against an independent Python simulation of the reference
semantics (Merge.scala:96-125 clause order: source-deleted -> hash-differs
-> touch; unmatched non-deleted inserts; unmatched deleted skipped).
Catches interaction bugs no hand-written example covers (revive-after-
soft-delete, delete-then-reinsert, repeated touches, hash covering the
deleted flag)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from datalakefoundation_spark.processing import Processing
from tests.helpers import make_metadata, write_slice

TIMES = [
    "2026-01-01 00:00:00",
    "2026-02-01 00:00:00",
    "2026-03-01 00:00:00",
    "2026-04-01 00:00:00",
    "2026-05-01 00:00:00",
]
VALUE_COLS = ("SeqNr", "name", "data")


def _mode_opts(mode: str) -> dict:
    """Run options for a write mode; "auto" leaves write_mode unset, so
    each run picks patch or rewrite itself."""
    return {} if mode == "auto" else {"write_mode": mode}


def _gen_history(seed: int) -> list[list[dict]]:
    rng = random.Random(seed)
    slices = []
    for i, _t in enumerate(TIMES):
        ids = rng.sample(range(26), rng.randint(8, 15))
        rows = []
        for id_ in sorted(ids):
            rows.append(
                {
                    "ID": id_,
                    "SeqNr": i * 100 + rng.randint(0, 3),
                    "name": f"n{rng.randint(0, 4)}",
                    "data": f"d{rng.randint(0, 4)}",
                    # first slice runs as a full load: keep it clean of
                    # deleted flags so the model's starting state is simple
                    "deleted": bool(i > 0 and rng.random() < 0.2),
                }
            )
        slices.append(rows)
    return slices


def _model(slices: list[list[dict]]) -> dict[int, dict]:
    """Reference simulation. Table: ID -> {values..., deleted, lastSeen}."""
    table: dict[int, dict] = {}
    for i, rows in enumerate(slices):
        t = TIMES[i]
        for r in rows:
            vals = {c: r[c] for c in VALUE_COLS}
            if i == 0:
                # full load: slice lands as-is
                table[r["ID"]] = {**vals, "deleted": r["deleted"], "lastSeen": t}
                continue
            cur = table.get(r["ID"])
            if cur is None:
                if not r["deleted"]:
                    table[r["ID"]] = {**vals, "deleted": False, "lastSeen": t}
                continue  # unmatched deleted source row: skipped
            if r["deleted"]:
                # J2: flip the flag, touch lastSeen, keep target values
                cur["deleted"] = True
                cur["lastSeen"] = t
            elif any(cur[c] != vals[c] for c in VALUE_COLS) or cur["deleted"]:
                # J3: SourceHash covers value columns AND the deleted flag,
                # so a revive (same values, deleted flipping true->false)
                # hash-differs and updates all
                table[r["ID"]] = {**vals, "deleted": False, "lastSeen": t}
            else:
                cur["lastSeen"] = t  # J4 touch
    return table


def _gen_overlapping_history(seed: int) -> list[list[dict]]:
    """Like _gen_history but with SeqNr drawn from one shared range, so
    watermark windows [prev_max, cur_max] genuinely overlap target rows and
    delete inference has something to bite on."""
    rng = random.Random(seed)
    slices = []
    for i, _t in enumerate(TIMES):
        ids = rng.sample(range(26), rng.randint(8, 15))
        slices.append(
            [
                {
                    "ID": id_,
                    "SeqNr": rng.randint(0, 40),
                    "name": f"n{rng.randint(0, 4)}",
                    "data": f"d{rng.randint(0, 4)}",
                    "deleted": False,
                }
                for id_ in sorted(ids)
            ]
        )
    return slices


def _merge_model_with_inference(slices: list[list[dict]]) -> dict[int, dict]:
    """Merge model plus J5 delete inference: after each incremental run,
    target rows absent from the slice, not already deleted, with SeqNr
    inside the inclusive [previous_bookmark, current_max] window flip to
    deleted (values kept, lastSeen touched). The bookmark is the PREVIOUS
    slice's max SeqNr (the store keeps the latest written value)."""
    table: dict[int, dict] = {}
    stored_wm: int | None = None
    for i, rows in enumerate(slices):
        t = TIMES[i]
        cur_wm = max(r["SeqNr"] for r in rows)
        slice_ids = {r["ID"] for r in rows}
        for r in rows:
            vals = {c: r[c] for c in VALUE_COLS}
            if i == 0:
                table[r["ID"]] = {**vals, "deleted": False, "lastSeen": t}
                continue
            cur = table.get(r["ID"])
            if cur is None:
                table[r["ID"]] = {**vals, "deleted": False, "lastSeen": t}
            elif any(cur[c] != vals[c] for c in VALUE_COLS) or cur["deleted"]:
                table[r["ID"]] = {**vals, "deleted": False, "lastSeen": t}
            else:
                cur["lastSeen"] = t
        if i > 0 and stored_wm is not None:
            for id_, cur in table.items():
                if (
                    id_ not in slice_ids
                    and not cur["deleted"]
                    and stored_wm <= cur["SeqNr"] <= cur_wm
                ):
                    cur["deleted"] = True
                    cur["lastSeen"] = t
        stored_wm = cur_wm
    return table


# seeds chosen so the model infers >=2 deletions (non-vacuous windows)
@pytest.mark.parametrize("mode", ["cow", "mor", "auto"])
@pytest.mark.parametrize("seed", [1, 28, 32])
def test_merge_delete_inference_matches_reference_model(
    spark, lake_root, prefix, seed, mode
):
    md = make_metadata(lake_root, prefix, delete_missing=True)
    slices = _gen_overlapping_history(seed)
    p = None
    for i, rows in enumerate(slices):
        write_slice(
            spark, md, f"s{i}.parquet",
            [{k: v for k, v in r.items() if k != "deleted"} for r in rows],
        )
        p = Processing(
            spark, md, 1, f"s{i}.parquet",
            {"processing.time": TIMES[i], **_mode_opts(mode)},
        )
        p.process("merge")

    expected = _merge_model_with_inference(slices)
    got = {
        r["ID"]: r
        for r in p.silver_table().read().select(
            "ID", *VALUE_COLS,
            F.col(f"{prefix}deleted").alias("deleted"),
            F.date_format(f"{prefix}lastSeen", "yyyy-MM-dd HH:mm:ss").alias("lastSeen"),
        ).collect()
    }
    assert set(got) == set(expected)
    for id_, exp in expected.items():
        row = got[id_]
        actual = {
            **{c: row[c] for c in VALUE_COLS},
            "deleted": row["deleted"],
            "lastSeen": row["lastSeen"],
        }
        assert actual == exp, f"seed {seed}, ID {id_}: {actual} != {exp}"
    # the windows must actually have inferred something across the history,
    # or this test is vacuous — true for these seeds by construction
    assert any(v["deleted"] for v in expected.values()), f"seed {seed} vacuous"


# seeds as above; a partitioned entity (Administration = ID % 2) written
# merge-on-read exercises the multi-segment manifest path: per-segment
# min/max stats recorded each run, patches owning the partitions they hold,
# and the windowed delete-inference merge scoping its window and its read
# set to the slice's partitions (processing.py _merge_like). Every slice
# holds both parities, so the reference model is identical — pruning must
# be invisible in the results.
@pytest.mark.parametrize("seed", [1, 28, 32])
def test_merge_delete_inference_partitioned_matches_model(
    spark, lake_root, prefix, seed
):
    md = make_metadata(lake_root, prefix, delete_missing=True, partitioned=True)
    opts = _mode_opts("mor")
    slices = _gen_overlapping_history(seed)
    p = None
    for i, rows in enumerate(slices):
        write_slice(
            spark, md, f"s{i}.parquet",
            [{k: v for k, v in r.items() if k != "deleted"} for r in rows],
        )
        p = Processing(
            spark, md, 1, f"s{i}.parquet", {"processing.time": TIMES[i], **opts}
        )
        p.process("merge")

    # the scenario must actually be multi-segment + partitioned, or this
    # test degenerates into the plain variant above
    mf = p.silver_table().latest_manifest()
    assert mf.partition_by == ["Administration"] and len(mf.segments) > 1
    assert any(seg.stats for seg in mf.segments)

    expected = _merge_model_with_inference(slices)
    got = {
        r["ID"]: r
        for r in p.silver_table().read().select(
            "ID", *VALUE_COLS,
            F.col(f"{prefix}deleted").alias("deleted"),
            F.date_format(f"{prefix}lastSeen", "yyyy-MM-dd HH:mm:ss").alias("lastSeen"),
        ).collect()
    }
    assert set(got) == set(expected)
    for id_, exp in expected.items():
        row = got[id_]
        actual = {
            **{c: row[c] for c in VALUE_COLS},
            "deleted": row["deleted"],
            "lastSeen": row["lastSeen"],
        }
        assert actual == exp, f"seed {seed}, ID {id_}: {actual} != {exp}"
    assert any(v["deleted"] for v in expected.values()), f"seed {seed} vacuous"


def _scd2_model(slices: list[list[dict]], sentinel: str) -> dict[tuple, dict]:
    """SCD2 simulation (Historic.scala J6/J8): version chains keyed by
    (ID, ValidFrom). First slice = full historic load."""
    versions: dict[int, list[dict]] = {}
    for i, rows in enumerate(slices):
        t = TIMES[i]
        for r in rows:
            vals = {c: r[c] for c in VALUE_COLS}
            chain = versions.setdefault(r["ID"], [])
            cur = next((v for v in chain if v["IsCurrent"]), None)
            if cur is None:
                chain.append(
                    {**vals, "ValidFrom": t, "ValidTo": sentinel, "IsCurrent": True}
                )
            elif any(cur[c] != vals[c] for c in VALUE_COLS):
                cur["ValidTo"] = t
                cur["IsCurrent"] = False
                chain.append(
                    {**vals, "ValidFrom": t, "ValidTo": sentinel, "IsCurrent": True}
                )
            # else: hash-equal -> unchanged, no new version
    return {
        (id_, v["ValidFrom"]): v for id_, chain in versions.items() for v in chain
    }


@pytest.mark.parametrize("mode", ["cow", "mor", "auto"])
@pytest.mark.parametrize("seed", [5, 31])
def test_scd2_history_matches_reference_model(spark, lake_root, prefix, seed, mode):
    from datalakefoundation_spark import pipeline as P

    md = make_metadata(lake_root, prefix, processtype="historic")
    # no deleted flags: canonical SCD2 upsert histories
    slices = [
        [{k: v for k, v in r.items() if k != "deleted"} for r in rows]
        for rows in _gen_history(seed)
    ]
    p = None
    for i, rows in enumerate(slices):
        write_slice(spark, md, f"s{i}.parquet", rows)
        p = Processing(
            spark, md, 1, f"s{i}.parquet",
            {"processing.time": TIMES[i], **_mode_opts(mode)},
        )
        p.process("historic")

    sentinel = P.VALID_TO_SENTINEL
    expected = _scd2_model(slices, sentinel)
    fmt = "yyyy-MM-dd HH:mm:ss"
    got = {
        (r["ID"], r["ValidFrom"]): r
        for r in p.silver_table().read().select(
            "ID", *VALUE_COLS,
            F.date_format(f"{prefix}ValidFrom", fmt).alias("ValidFrom"),
            F.date_format(f"{prefix}ValidTo", fmt).alias("ValidTo"),
            F.col(f"{prefix}IsCurrent").alias("IsCurrent"),
        ).collect()
    }
    assert set(got) == set(expected), (
        f"seed {seed}: version-set mismatch {sorted(set(got) ^ set(expected))}"
    )
    for key, exp in expected.items():
        row = got[key]
        actual = {
            **{c: row[c] for c in VALUE_COLS},
            "ValidFrom": row["ValidFrom"],
            "ValidTo": row["ValidTo"],
            "IsCurrent": row["IsCurrent"],
        }
        assert actual == exp, f"seed {seed}, version {key}: {actual} != {exp}"
    # invariant: exactly one current version per live key
    per_key = {}
    for (id_, _vf), r in got.items():
        per_key[id_] = per_key.get(id_, 0) + (1 if r["IsCurrent"] else 0)
    assert all(n == 1 for n in per_key.values())


@pytest.mark.parametrize("mode", ["cow", "mor", "auto"])
@pytest.mark.parametrize("seed", [11, 23, 47])
def test_merge_history_matches_reference_model(spark, lake_root, prefix, seed, mode):
    md = make_metadata(lake_root, prefix)
    slices = _gen_history(seed)
    p = None
    for i, rows in enumerate(slices):
        out_rows = []
        for r in rows:
            row = {k: v for k, v in r.items() if k != "deleted"}
            if i > 0:
                row[f"{prefix}deleted"] = r["deleted"]
            out_rows.append(row)
        write_slice(spark, md, f"s{i}.parquet", out_rows)
        p = Processing(
            spark, md, 1, f"s{i}.parquet",
            {"processing.time": TIMES[i], **_mode_opts(mode)},
        )
        p.process("merge")

    expected = _model(slices)
    got = {
        r["ID"]: r
        for r in p.silver_table().read().select(
            "ID", *VALUE_COLS,
            F.col(f"{prefix}deleted").alias("deleted"),
            F.date_format(f"{prefix}lastSeen", "yyyy-MM-dd HH:mm:ss").alias("lastSeen"),
        ).collect()
    }
    assert set(got) == set(expected), (
        f"seed {seed}: row-set mismatch {sorted(set(got) ^ set(expected))}"
    )
    for id_, exp in expected.items():
        row = got[id_]
        actual = {
            **{c: row[c] for c in VALUE_COLS},
            "deleted": row["deleted"],
            "lastSeen": row["lastSeen"],
        }
        assert actual == exp, f"seed {seed}, ID {id_}: {actual} != {exp}"


def _long_metadata(root: str, prefix: str, shape: str):
    """A plain delete_missing merge entity, or an SCD2 entity partitioned
    by a calculated day column."""
    import json

    from datalakefoundation_spark.metadata.models import Metadata
    from datalakefoundation_spark.metadata.sources import StringMetadataSettings

    columns = [{"name": "ID", "fieldroles": ["businesskey"]}]
    settings = {"delete_missing": True}
    if shape == "day_scd2":
        columns.append({
            "name": "", "newname": "Day", "fieldroles": ["calculated", "partition"],
            "expression": "date_add(to_date('2026-01-01'), CAST(ID % 3 AS INT))",
        })
        settings = {}
    entity = {
        "id": 1, "name": "person", "enabled": True, "connection": "testconn",
        "processtype": "historic" if shape == "day_scd2" else "merge",
        "watermark": [{"column_name": "SeqNr", "operation": "and",
                       "operation_group": 0, "expression": "'${last_value}'"}],
        "columns": columns, "settings": settings, "transformations": [],
    }
    config = {
        "environment": {"name": "TEST", "timezone": "UTC", "root_folder": root,
                        "systemfield_prefix": prefix, "output": "paths"},
        "connections": [{"name": "testconn", "enabled": True, "settings": {}}],
        "entities": [entity],
    }
    return Metadata(StringMetadataSettings().initialize(json.dumps(config)))


@pytest.mark.parametrize("shape", ["plain_merge", "day_scd2"])
def test_auto_write_path_folds_and_matches_cow(spark, lake_root, prefix, shape):
    """A seeded history long enough to cross the patch/rewrite fold: with
    write_mode unset, runs patch while the touched set's live patch rows
    plus the slice stay under Processing.PATCH_FRACTION of its rows, then
    rewrite it (folding the patches), and patch again. The table must
    equal the forced copy-on-write table row for row, both paths must run,
    and the live segment count must stay bounded by the fold."""
    rng = random.Random(7)
    n_keys, n_slices, slice_rows = 60, 12, 6
    history = [[
        {"ID": k, "SeqNr": k, "name": f"n{k}", "data": "d0"} for k in range(n_keys)
    ]]
    for i in range(1, n_slices):
        history.append([
            {"ID": k, "SeqNr": rng.randint(0, 60 + 6 * i),
             "name": f"n{rng.randint(0, 4)}", "data": f"d{i}"}
            for k in sorted(rng.sample(range(n_keys + 3 * i), slice_rows))
        ])
    tables, paths, live = {}, [], []
    for mode in ("auto", "cow"):
        md = _long_metadata(f"{lake_root}/{mode}", prefix, shape)
        for i, rows in enumerate(history):
            write_slice(spark, md, f"s{i}.parquet", rows)
            p = Processing(
                spark, md, 1, f"s{i}.parquet",
                {"processing.time": f"2026-01-{i + 1:02d} 00:00:00",
                 **_mode_opts(mode)},
            )
            summary = p.process()
            if mode == "auto":
                paths.append(summary.write_path)
                live.append(len(p.silver_table().latest_manifest().segments))
        df = p.silver_table().read()
        tables[mode] = sorted(
            tuple(r) for r in df.select(*sorted(df.columns)).collect()
        )
    assert tables["auto"] == tables["cow"]
    # bootstrap is a full load; later runs must take both paths, a
    # rewrite following a patch (the fold)
    assert paths[0] == "rewrite"
    assert any(a == "patch" and b == "rewrite" for a, b in zip(paths[1:], paths[2:])), paths
    assert paths.count("patch") >= 4, paths
    assert max(live) <= 8, live
