"""Merge-on-read deletion vectors (tables/lake_table.py merge_patch /
delete_keys): patch commits append only changed rows and mask superseded
versions in older segments via a version-keyed key mask; compaction/optimize
materialize; vacuum/gc keep dv dirs alive while referenced.
"""

import random

import pytest
from pyspark.sql import functions as F

from datalakefoundation_spark.tables.lake_table import BUCKET_COL, DV_V_COL, MASK_COL, LakeTable
from tests.helpers import legacy_bucket, legacy_bucketed_table, stamp_legacy_bucketing


def _base(spark, n=100):
    return spark.range(n).select(
        F.sha2(F.col("id").cast("string"), 256).alias("pk"),
        F.col("id").alias("val"),
    )


def _patch(spark, updates: dict[int, int], inserts: dict[int, int]):
    """Patch rows: updates mask their old version, inserts mask nothing."""
    rows = [(str(k), v, True) for k, v in updates.items()] + [
        (str(k), v, False) for k, v in inserts.items()
    ]
    df = (
        _spark_df(spark, rows)
        .select(
            F.sha2(F.col("_1"), 256).alias("pk"),
            F.col("_2").alias("val"),
            F.col("_3").alias(MASK_COL),
        )
    )
    return df


def _spark_df(spark, rows):
    return spark.createDataFrame(rows, "_1 string, _2 long, _3 boolean")


def _with_p(df):
    """A partition column p = val % 4."""
    return df.withColumn("p", F.col("val") % 4)


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(_base(spark))
    return t


def _state(t):
    return {r["pk"]: r["val"] for r in t.read().collect()}


def _pk(i: int) -> str:
    import hashlib

    return hashlib.sha256(str(i).encode()).hexdigest()


def test_merge_patch_masks_updates_keeps_inserts(spark, table):
    rows = table.merge_patch(
        _patch(spark, updates={2: 2000, 3: 3000}, inserts={500: 500}),
        keys=["pk"], mask_col=MASK_COL,
    )
    assert rows == 3
    st = _state(table)
    assert len(st) == 101  # 100 base + 1 insert, updated pks not duplicated
    assert st[_pk(2)] == 2000 and st[_pk(3)] == 3000
    assert st[_pk(500)] == 500
    assert st[_pk(1)] == 1
    assert MASK_COL not in table.read().columns
    # time travel: version 0 is the unpatched base
    assert {r["pk"]: r["val"] for r in table.read(version=0).collect()}[_pk(2)] == 2


def test_second_patch_supersedes_first(spark, table):
    table.merge_patch(_patch(spark, {2: 20}, {}), keys=["pk"], mask_col=MASK_COL)
    table.merge_patch(_patch(spark, {2: 200}, {}), keys=["pk"], mask_col=MASK_COL)
    st = _state(table)
    assert st[_pk(2)] == 200 and len(st) == 100


def test_empty_patch_commits_nothing(spark, table):
    v = table.latest_manifest().version
    rows = table.merge_patch(
        _patch(spark, {}, {}), keys=["pk"], mask_col=MASK_COL
    )
    assert rows == 0
    assert table.latest_manifest().version == v
    # no orphaned segment dir left behind
    assert table.gc_orphans(older_than_seconds=0) == []


def test_delete_keys_hard_delete_and_resurrection(spark, table):
    victims = spark.createDataFrame([( _pk(5),), (_pk(6),)], "pk string")
    table.delete_keys(victims, keys=["pk"])
    st = _state(table)
    assert _pk(5) not in st and _pk(6) not in st and len(st) == 98
    # time travel still shows them
    assert _pk(5) in {r["pk"] for r in table.read(version=0).collect()}
    # re-insert AFTER the delete: the dv is attached only to older segments,
    # so the new row must resurface
    table.merge_patch(
        _patch(spark, {}, {5: 5555}), keys=["pk"], mask_col=MASK_COL
    )
    st = _state(table)
    assert st[_pk(5)] == 5555 and len(st) == 99


def test_compaction_materializes_dv(spark, table):
    table.merge_patch(_patch(spark, {1: 10, 2: 20}, {300: 300}), keys=["pk"], mask_col=MASK_COL)
    before = _state(table)
    folded = table.compact_small_segments(small_rows=10_000)
    assert folded  # base + patch both under the threshold
    mf = table.latest_manifest()
    assert all(not s.dv for s in mf.segments)
    assert _state(table) == before
    assert MASK_COL not in table.read().columns


def test_optimize_materializes_dv(spark, table):
    victims = spark.createDataFrame([(_pk(7),)], "pk string")
    table.delete_keys(victims, keys=["pk"])
    table.optimize()
    mf = table.latest_manifest()
    assert all(not s.dv for s in mf.segments)
    assert _pk(7) not in _state(table) and len(_state(table)) == 99


def test_vacuum_keeps_live_dv_dirs(spark, table):
    victims = spark.createDataFrame([(_pk(8),)], "pk string")
    table.delete_keys(victims, keys=["pk"])
    table.vacuum(retain_last=1)
    # the dv dir is referenced by the current version — must survive vacuum
    st = _state(table)
    assert _pk(8) not in st and len(st) == 99
    # after materialization the dv dir is unreferenced and vacuumable
    table.optimize()
    removed = table.vacuum(retain_last=1)
    assert any("-dv-" in d for d in removed)
    assert len(_state(table)) == 99


def test_multi_key_dv_masks_version_not_pk(spark, tmp_path):
    """Composite keys (the SCD2 shape): masking (pk, vfrom) removes one
    version, other versions of the same pk survive."""
    t = LakeTable(spark, str(tmp_path / "v"))
    t.overwrite(
        spark.createDataFrame(
            [("a", 1, 10), ("a", 2, 20), ("b", 1, 30)], "pk string, vfrom int, val int"
        )
    )
    patch = spark.createDataFrame(
        [("a", 2, 25, True)], f"pk string, vfrom int, val int, {MASK_COL} boolean"
    )
    t.merge_patch(patch, keys=["pk", "vfrom"], mask_col=MASK_COL)
    rows = {(r["pk"], r["vfrom"]): r["val"] for r in t.read().collect()}
    assert rows == {("a", 1): 10, ("a", 2): 25, ("b", 1): 30}


def test_view_sql_applies_dv(spark, table):
    table.merge_patch(_patch(spark, {4: 40}, {600: 600}), keys=["pk"], mask_col=MASK_COL)
    victims = spark.createDataFrame([(_pk(9),)], "pk string")
    table.delete_keys(victims, keys=["pk"])
    via_view = {r["pk"]: r["val"] for r in spark.sql(table.to_view_sql()).collect()}
    assert via_view == _state(table)
    assert MASK_COL not in spark.sql(table.to_view_sql()).columns


def test_bucketed_table_patch(spark, tmp_path):
    """A table of the retired PK-hash bucket layout takes no patch: its
    bucket segments stay readable, but only a full rewrite may build on
    them. The refused patch leaves no commit and no rows behind."""
    path = str(tmp_path / "b")
    legacy_bucketed_table(spark, path).overwrite(
        _base(spark, n=200).withColumn(BUCKET_COL, legacy_bucket("pk", 4))
    )
    stamp_legacy_bucketing(path, "pk", 4)
    t = LakeTable(spark, path)
    before = _state(t)
    assert len(before) == 200
    with pytest.raises(ValueError, match="bucket layout"):
        t.merge_patch(
            _patch(spark, {10: 100_000}, {999: 999}), keys=["pk"], mask_col=MASK_COL
        )
    assert t.latest_manifest().version == 0
    assert _state(t) == before
    t.optimize()  # the rewrite converts it; patches land from then on
    assert t.latest_manifest().bucketing is None
    t.merge_patch(_patch(spark, {10: 100_000}, {999: 999}), keys=["pk"], mask_col=MASK_COL)
    st = _state(t)
    assert st[_pk(10)] == 100_000 and st[_pk(999)] == 999 and len(st) == 201


def test_dv_mask_join_broadcasts_once(spark, table):
    """Deletion vectors apply as ONE broadcast join over a global
    version-keyed mask table — per-patch anti-joins built O(patches^2)
    distinct broadcast exchanges and made reads slow down quadratically
    with live patches (measured 0.5 s -> 19.6 s at 32 patches / 2M rows)."""
    for i in range(4):
        table.merge_patch(
            _patch(spark, {i: 10 * i}, {}), keys=["pk"], mask_col=MASK_COL
        )
    plan = table.read()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1
    assert "LeftAnti, BuildRight" in plan
    assert "BroadcastNestedLoop" not in plan


def test_cow_replace_preserves_dv_on_kept_segments(spark, tmp_path):
    """Review repro: a copy-on-write replace of one partition must NOT drop
    the dv refs on kept segments — the patch-masked old version (and
    delete_keys-erased rows) must stay invisible."""
    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"])
    t.overwrite(_with_p(_base(spark, n=100)))
    t.merge_patch(
        _with_p(_patch(spark, {2: 2000}, {})), keys=["pk"], mask_col=MASK_COL
    )
    t.delete_keys(spark.createDataFrame([(_pk(3),)], "pk string"), keys=["pk"])
    # replace a partition that holds neither pk2/pk3's rows nor the patch
    # (p = val % 4: pk2 -> 2, pk3 -> 3, the patch row -> 0) with its
    # current content
    content = t.read().where(F.col("p") == 1)
    t.replace_partitions(content, [{"p": "1"}])
    st = _state(t)
    assert st[_pk(2)] == 2000, "masked old version resurrected by CoW replace"
    assert _pk(3) not in st, "hard-deleted key resurrected by CoW replace"
    assert len(st) == 99


def test_dynamic_overwrite_preserves_dv(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "p"), partition_by=["p"])
    t.overwrite(
        spark.createDataFrame(
            [("a", 0, 1), ("b", 0, 2), ("c", 1, 3)], "pk string, p int, val int"
        )
    )
    t.delete_keys(spark.createDataFrame([("a",)], "pk string"), keys=["pk"])
    # dynamic overwrite of partition 1 only — partition 0 keeps its dv
    t.overwrite(
        spark.createDataFrame([("d", 1, 9)], "pk string, p int, val int"),
        dynamic=True,
    )
    rows = {r["pk"]: r["val"] for r in t.read().collect()}
    assert rows == {"b": 2, "d": 9}


@pytest.mark.slow  # multi-minute certification/equivalence run: builder gate only (r12, VERDICT r11 #1)
def test_compaction_coalesces_surviving_dv_refs(spark, tmp_path):
    """A big base segment (not folded) accumulates one dv ref per patch;
    compaction must coalesce them into ONE merged ref while the folded
    patch tail materializes — state identical, the manifest entry stays
    small, and the folded patch dirs become vacuumable."""
    t = LakeTable(spark, str(tmp_path / "t"))
    t.overwrite(_base(spark, n=2000))
    for i in range(6):
        t.merge_patch(
            _patch(spark, {i: 10_000 + i}, {5000 + i: i}),
            keys=["pk"], mask_col=MASK_COL,
        )
    before = _state(t)
    base_seg = t.latest_manifest().segments[0]
    assert len(base_seg.dv) == 6
    folded = t.compact_small_segments(small_rows=1000)  # folds the 6 patches
    assert len(folded) == 6
    mf = t.latest_manifest()
    base_after = next(s for s in mf.segments if s.dir == base_seg.dir)
    assert len(base_after.dv) == 1 and base_after.dv[0]["flag"] is None
    assert _state(t) == before
    # merged dv dir survives vacuum while referenced; the patch dirs it
    # replaced do not
    removed = t.vacuum(retain_last=1)
    assert set(folded) <= set(removed)
    assert _state(t) == before


def test_mor_read_batches_segments_and_dv_dirs(spark, table):
    """A trickle-merged table (the fastest segment accumulator: one patch
    segment + one dv dir per merge) must read through a BOUNDED number of
    parquet relations, not O(patches): the data segments collapse into one
    multi-path scan with per-row versions parsed from _metadata.file_path,
    and same-(keys, flag) dv dirs collapse into one multi-path mask scan.
    The per-relation form measured 17.5 s at 32 patches / 2M rows; the
    batched form 6.3 s (merge-on-read probe at commit 4dd3b77)."""
    for i in range(12):
        table.merge_patch(
            _patch(spark, {i: 10 * i}, {1000 + i: i}), keys=["pk"], mask_col=MASK_COL
        )
    df = table.read()
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n_rel = plan.count("Relation [")
    assert n_rel <= 3, f"{n_rel} relations for 13 segments:\n{plan[:3000]}"
    st = {r["pk"]: r["val"] for r in df.collect()}
    assert len(st) == 112
    assert st[_pk(5)] == 50 and st[_pk(1005)] == 5 and st[_pk(99)] == 99


def test_mor_read_batches_bucketed_segments(spark, tmp_path):
    """A table of the retired PK-hash bucket layout with live patches (flat,
    the bucket column as data) reads its hive bucket segment per segment
    and every patch through the one batched relation: rows stay exact, and
    the read plan has as many relations with 6 live patches as with 1."""

    def build(n_patches):
        path = str(tmp_path / f"bm{n_patches}")
        legacy = legacy_bucketed_table(spark, path)
        legacy.overwrite(
            _base(spark, n=200).withColumn(BUCKET_COL, legacy_bucket("pk", 4))
        )
        for i in range(n_patches):
            legacy.merge_patch(
                _patch(spark, {i: 7 * i}, {500 + i: i}).withColumn(
                    BUCKET_COL, legacy_bucket("pk", 4)
                ),
                keys=["pk"],
                mask_col=MASK_COL,
            )
        stamp_legacy_bucketing(path, "pk", 4)
        df = LakeTable(spark, path).read()
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return df, plan.count("Relation [")

    _, n_rel_1 = build(1)
    df, n_rel_6 = build(6)
    assert n_rel_1 == n_rel_6, (n_rel_1, n_rel_6)
    assert BUCKET_COL not in df.columns
    st = {r["pk"]: r["val"] for r in df.collect()}
    assert len(st) == 206
    assert st[_pk(3)] == 21 and st[_pk(503)] == 3 and st[_pk(150)] == 150


def test_mor_read_batches_partitioned_segments(spark, tmp_path):
    """A partitioned table whose base segment lost a partition to a later
    rewrite, with live patches, plans one data relation and one mask
    relation whatever the patch count: every segment joins the batched
    relation (the restricted base filtered by its commit version), so the
    mask is planned and read once, not once per union branch. Rows stay
    exact."""

    def build(n_patches):
        t = LakeTable(spark, str(tmp_path / f"pm{n_patches}"), partition_by=["p"])
        t.overwrite(_base(spark, n=200).withColumn("p", F.col("val") % 4))
        t.replace_partitions(
            t.read().where(F.col("p") == 0).withColumn("val", F.col("val") + 1), [{"p": "0"}]
        )
        for i in range(n_patches):
            t.merge_patch(
                _patch(spark, {2 * i + 1: 7 * i}, {500 + i: i}).withColumn(
                    "p", F.col("val") % 4
                ),
                keys=["pk"],
                mask_col=MASK_COL,
            )
        assert not t.latest_manifest().segments[0].owns_all
        df = t.read()
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        relations = [ln for ln in plan.splitlines() if "Relation [" in ln]
        return df, relations

    _, rel_1 = build(1)
    df, rel_6 = build(6)
    assert len(rel_1) == len(rel_6) == 2, rel_6
    assert sum(DV_V_COL in ln for ln in rel_6) == 1, rel_6
    st = {r["pk"]: r["val"] for r in df.collect()}
    assert len(st) == 206
    assert st[_pk(4)] == 5 and st[_pk(5)] == 14 and st[_pk(503)] == 3
    assert st[_pk(150)] == 150


@pytest.mark.parametrize("n_patches", [2, 8])
def test_compaction_plan_has_one_mask_join_per_key_set(
    spark, table, monkeypatch, n_patches
):
    """Compaction reads through the same version-keyed mask as read():
    one broadcast anti join per key set however many patches fold, not
    one per segment."""
    for i in range(n_patches):
        table.merge_patch(
            _patch(spark, {i: 10 * i}, {700 + i: i}), keys=["pk"], mask_col=MASK_COL
        )
    table.delete_keys(spark.createDataFrame([(_pk(50),)], "pk string"), keys=["pk"])
    before = _state(table)
    written = []
    write = table._write_segment

    def capture(df, *args):
        written.append(df)
        return write(df, *args)

    monkeypatch.setattr(table, "_write_segment", capture)
    assert len(table.compact_small_segments(small_rows=10_000)) == n_patches + 1
    plan = written[0]._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LeftAnti") == 1, plan[:3000]
    assert "LeftOuter" not in plan
    assert _state(table) == before


def _part(pk: str, n: int) -> int:
    return int(pk[:4], 16) % n


@pytest.mark.parametrize("layout", ["plain", "partitioned"])
def test_random_ops_match_model(spark, tmp_path, layout):
    """Seeded op sequences against an in-test dict model of the rows
    {(pk, vfrom): val}: MoR patches masking by pk and by (pk, vfrom),
    hard deletes, re-inserts after delete, partition replaces (ownership
    handed from older segments and patches to the new one), compaction
    and restore. After every op read() must equal the model; compaction
    must leave it unchanged."""
    n_parts = 4
    partitioned = layout == "partitioned"
    rng = random.Random(20 if partitioned else 10)
    t = LakeTable(
        spark, str(tmp_path / layout), partition_by=["p"] if partitioned else ()
    )

    def frame(rows, schema):
        # the partition column derives from pk as _part does
        df = spark.createDataFrame(rows, schema)
        if not partitioned:
            return df
        p = F.pmod(F.conv(F.substring("pk", 1, 4), 16, 10).cast("int"), F.lit(n_parts))
        return df.withColumn("p", p)

    schema = f"pk string, vfrom int, val long, {MASK_COL} boolean"
    model = {(_pk(i), 0): i for i in range(60)}
    t.overwrite(
        frame(
            [(pk, vf, v) for (pk, vf), v in model.items()],
            "pk string, vfrom int, val long",
        )
    )
    history = {t.latest_manifest().version: dict(model)}
    # ops lean on recently touched pks so keys get masked more than once
    # (the max-version case) and re-inserted keys get masked again
    next_id, deleted, touched = 60, [], []
    ops = ["patch_pk", "patch_version", "delete", "compact", "restore"]
    if partitioned:
        ops.append("replace")
    seq = ops * 2
    rng.shuffle(seq)
    # restore, then patches on the restored state, then a fold
    seq += ["restore", "patch_pk", "patch_version", "compact"]
    for step, op in enumerate(seq):
        live = sorted({pk for pk, _ in model})
        hot = [pk for pk in dict.fromkeys(reversed(touched)) if pk in live][:3]
        if op == "patch_pk":
            rows = []
            for pk in sorted(set(rng.sample(live, 2) + hot[:1])):
                val = rng.randrange(10**6)
                model = {k: v for k, v in model.items() if k[0] != pk}
                model[(pk, 0)] = val
                rows.append((pk, 0, val, True))
            gone = [pk for pk in deleted if pk not in live]
            fresh = [_pk(next_id), _pk(next_id + 1)] + rng.sample(gone, min(1, len(gone)))
            next_id += 2
            touched += [r[0] for r in rows] + fresh
            for pk in fresh:
                model[(pk, 0)] = step
                rows.append((pk, 0, step, False))
            t.merge_patch(frame(rows, schema), keys=["pk"], mask_col=MASK_COL)
        elif op == "patch_version":
            rows = []
            hot_keys = sorted(k for k in model if k[0] in hot)
            keys = rng.sample(sorted(model), 1)
            keys += rng.sample(hot_keys, min(1, len(hot_keys)))
            for key in sorted(set(keys)):
                model[key] = -step
                rows.append((*key, -step, True))
            pk = rng.choice(hot or live)
            touched.append(pk)
            vf = max(v for p, v in model if p == pk) + 1
            model[(pk, vf)] = step
            rows.append((pk, vf, step, False))
            t.merge_patch(frame(rows, schema), keys=["pk", "vfrom"], mask_col=MASK_COL)
        elif op == "delete":
            victims = sorted(set(rng.sample(live, 1) + hot[:1]))
            deleted += victims
            model = {k: v for k, v in model.items() if k[0] not in victims}
            t.delete_keys(
                spark.createDataFrame([(pk,) for pk in victims], "pk string"),
                keys=["pk"],
            )
        elif op == "replace":
            b = _part(rng.choice(live), n_parts)
            in_b = sorted(k for k in model if _part(k[0], n_parts) == b)
            model.pop(in_b[0])
            for k in in_b[1:]:
                model[k] += 1000
            t.replace_partitions(
                frame(
                    [(*k, model[k]) for k in in_b[1:]],
                    "pk string, vfrom int, val long",
                ),
                [{"p": str(b)}],
            )
        elif op == "compact":
            t.compact_small_segments(small_rows=rng.choice([30, 10**6]))
        elif op == "restore":
            v = rng.choice(sorted(history))
            t.restore(version=v)
            model = dict(history[v])
        got = sorted((r["pk"], r["vfrom"], r["val"]) for r in t.read().collect())
        assert got == sorted((*k, v) for k, v in model.items()), f"step {step}: {op}"
        history[t.latest_manifest().version] = dict(model)


def _file_scans(df) -> int:
    """Parquet scan leaves in ``df``'s physical plan."""
    return df._jdf.queryExecution().executedPlan().toString().count("FileScan parquet")


@pytest.mark.parametrize("layout", ["plain", "partitioned"])
def test_patch_read_plan_size_independent_of_live_patches(spark, tmp_path, layout):
    """Patches on plain and partitioned tables are flat segments: all live
    patches read through the one batched plain relation and their keys
    through the one batched mask relation, so the read plan has as many
    parquet scans with 5 live patches as with 1 (per-segment hive reads
    grew it by two scans per patch). Rows stay exact."""
    plain = layout == "plain"
    t = LakeTable(spark, str(tmp_path / layout), partition_by=() if plain else ["p"])

    def with_p(df):
        return df if plain else df.withColumn("p", F.col("val") % 3)

    t.overwrite(with_p(_base(spark, n=200)))
    expected = {_pk(i): i for i in range(200)}
    scans = {}
    for i in range(5):
        t.merge_patch(
            with_p(_patch(spark, {i: 1000 + i}, {500 + i: 500 + i})),
            keys=["pk"], mask_col=MASK_COL,
        )
        expected |= {_pk(i): 1000 + i, _pk(500 + i): 500 + i}
        df = t.read()
        scans[i + 1] = _file_scans(df)
        assert {r["pk"]: r["val"] for r in df.collect()} == expected
    base, *patches = t.latest_manifest().segments
    assert not base.patch and all(s.patch for s in patches)
    assert all((s.partitions is None) == plain for s in patches)
    assert scans[1] == scans[5], scans
