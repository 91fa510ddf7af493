"""Per-segment column statistics + data skipping (Delta file-statistics
parity at segment granularity).

Covers:
* the interval evaluator (``segment_may_match``) against num/str/datetime/
  all-NULL/missing stats;
* stats recording at write time (observe-based, in the manifest);
* ``LakeTable.read(prune_spec=...)`` segment skipping incl. the all-pruned
  empty-schema path;
* the partition-pruned delete-inference merge matching the plain one
  (processing.py _merge_like).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalakefoundation_spark.processing import Processing
from datalakefoundation_spark.tables.lake_table import (
    LakeTable,
    segment_may_match,
)
from datalakefoundation_spark.watermark import build_window_spec
from tests.helpers import T0, T1, T2, make_metadata, write_slice


# ------------------------------------------------------------ unit: evaluator
def spec(*conds):
    """One AND-group of (op, col, lo, hi)."""
    return [list(conds)]


class TestSegmentMayMatch:
    def test_missing_stats_never_prunes(self):
        assert segment_may_match(None, spec(("and", "ts", "5", "9")))
        assert segment_may_match({}, spec(("and", "ts", "5", "9")))
        assert segment_may_match({"other": {"min": 1, "max": 2, "t": "num"}},
                                 spec(("and", "ts", "5", "9")))

    def test_numeric_disjoint_prunes(self):
        stats = {"seq": {"min": 0, "max": 99, "t": "num"}}
        assert not segment_may_match(stats, spec(("and", "seq", "100", "200")))
        assert not segment_may_match(stats, spec(("and", "seq", "-50", "-1")))
        # inclusive boundary intersects
        assert segment_may_match(stats, spec(("and", "seq", "99", "200")))
        assert segment_may_match(stats, spec(("and", "seq", "50", "60")))

    def test_string_numeric_bound_is_coerced(self):
        # "100" as a string would lexicographically be < "99"; the num kind
        # must win
        stats = {"seq": {"min": 0, "max": 99, "t": "num"}}
        assert not segment_may_match(stats, spec(("and", "seq", "100", "999")))

    def test_iso_datetime_mixed_separators(self):
        stats = {"ts": {"min": "2026-01-01 00:00:00", "max": "2026-01-31 23:59:59", "t": "str"}}
        # 'T' separator bound still compares correctly (parsed, not lex)
        assert not segment_may_match(stats, spec(("and", "ts", "2026-02-01T00:00:00", "2026-03-01T00:00:00")))
        assert segment_may_match(stats, spec(("and", "ts", "2026-01-31T00:00:00", "2026-03-01T00:00:00")))

    def test_all_null_column_prunes(self):
        stats = {"seq": {"min": None, "max": None, "t": "num"}}
        assert not segment_may_match(stats, spec(("and", "seq", "0", "10")))

    def test_group_or_fold(self):
        stats = {"a": {"min": 0, "max": 9, "t": "num"},
                 "b": {"min": 100, "max": 199, "t": "num"}}
        # a misses but b hits, OR -> may match
        assert segment_may_match(stats, spec(("and", "a", "50", "60"), ("or", "b", "150", "160")))
        # both miss, OR -> prune
        assert not segment_may_match(stats, spec(("and", "a", "50", "60"), ("or", "b", "500", "600")))
        # AND fold: one miss prunes
        assert not segment_may_match(stats, spec(("and", "a", "5", "6"), ("and", "b", "500", "600")))

    def test_groups_and_together(self):
        stats = {"a": {"min": 0, "max": 9, "t": "num"},
                 "b": {"min": 100, "max": 199, "t": "num"}}
        assert not segment_may_match(
            stats, [[("and", "a", "5", "6")], [("and", "b", "500", "600")]]
        )
        assert segment_may_match(
            stats, [[("and", "a", "5", "6")], [("and", "b", "150", "160")]]
        )

    def test_uncomparable_bound_is_conservative(self):
        stats = {"seq": {"min": 0, "max": 9, "t": "num"}}
        assert segment_may_match(stats, spec(("and", "seq", "abc", "def")))

    def test_empty_spec_never_prunes(self):
        assert segment_may_match({"a": {"min": 0, "max": 1, "t": "num"}}, None)
        assert segment_may_match({"a": {"min": 0, "max": 1, "t": "num"}}, [])


# ------------------------------------------------------------ recording + read
def test_stats_recorded_and_read_prunes(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), stats_columns=["seq", "name"])
    df1 = spark.createDataFrame([(i, f"n{i}") for i in range(10)], "seq int, name string")
    t.overwrite(df1)
    mf = t.latest_manifest()
    st = mf.segments[0].stats
    assert st["seq"] == {"min": 0, "max": 9, "t": "num"}
    assert st["name"] == {"min": "n0", "max": "n9", "t": "str"}

    df2 = spark.createDataFrame([(i, f"n{i}") for i in range(100, 110)], "seq int, name string")
    t.append(df2)
    mf = t.latest_manifest()
    assert len(mf.segments) == 2
    assert mf.segments[1].stats["seq"] == {"min": 100, "max": 109, "t": "num"}

    # prune to the second segment only
    got = t.read(prune_spec=spec(("and", "seq", "100", "200")))
    vals = {r["seq"] for r in got.collect()}
    assert vals == set(range(100, 110))
    # superset semantics: a spec hitting both segments returns at least
    # every matching row (seq 5-9 and 100-105 = 11). With file-level stats
    # (test_file_skipping.py) the superset is tighter than the 20-row
    # segment-granular read, but never below the match count.
    both = t.read(prune_spec=spec(("and", "seq", "5", "105")))
    assert both.count() >= 11
    assert both.where("seq between 5 and 105").count() == 11

    # all segments pruned -> empty result, schema preserved
    empty = t.read(prune_spec=spec(("and", "seq", "5000", "6000")))
    assert empty.count() == 0
    assert empty.columns == got.columns


def test_stats_survive_partition_handoff(spark, tmp_path):
    """Dynamic overwrite / replace keeps the surviving segments' stats."""
    t = LakeTable(spark, str(tmp_path / "t"), partition_by=["p"], stats_columns=["seq"])
    df1 = spark.createDataFrame([(i, i % 2) for i in range(10)], "seq int, p int")
    t.overwrite(df1)
    df2 = spark.createDataFrame([(i, 0) for i in range(100, 105)], "seq int, p int")
    t.overwrite(df2, dynamic=True)
    mf = t.latest_manifest()
    by_dir = {s.dir: s for s in mf.segments}
    assert len(mf.segments) == 2
    old = [s for s in mf.segments if s.partitions == [{"p": "1"}]][0]
    new = [s for s in mf.segments if s.partitions == [{"p": "0"}]][0]
    assert old.stats["seq"] == {"min": 0, "max": 9, "t": "num"}  # retained
    assert new.stats["seq"] == {"min": 100, "max": 104, "t": "num"}
    assert by_dir  # silence lint


def test_all_null_stats_recorded(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), stats_columns=["seq"])
    df = spark.createDataFrame([(None, "a"), (None, "b")], "seq int, name string")
    t.overwrite(df)
    st = t.latest_manifest().segments[0].stats
    assert st["seq"]["min"] is None and st["seq"]["max"] is None
    assert t.read(prune_spec=spec(("and", "seq", "0", "10"))).count() == 0


# ------------------------------------------------------ delete-inference prune
def _mk_rows(ids, seq_of=lambda i: i):
    return [{"ID": i, "SeqNr": seq_of(i), "name": f"n{i}", "data": f"d{i}"} for i in ids]


def test_delete_inference_pruning_matches_unpruned(spark, lake_root, tmp_path, prefix):
    """Equivalence: the partition-pruned windowed merge (window scoped to
    the slice's partitions, only those read and rewritten) produces exactly
    the table a plain (full-read) merge produces, modulo the partition
    column. Every slice here touches both partitions."""
    results = {}
    for tag, opts in (("partitioned", {"write_mode": "cow"}), ("plain", {})):
        root = str(tmp_path / tag)
        md = make_metadata(root, prefix, delete_missing=True, partitioned=tag != "plain")
        write_slice(spark, md, "s1.parquet", _mk_rows(range(60)))
        Processing(
            spark, md, 1, "s1.parquet",
            {"processing.time": T0, "delete_missing": False, **opts},
        ).process()
        write_slice(spark, md, "s2.parquet", _mk_rows(range(60, 64)))
        Processing(
            spark, md, 1, "s2.parquet",
            {"processing.time": T1, "delete_missing": False, **opts},
        ).process()
        # delete run: ids 64..66 new, 62 and 63 missing (inside window [63,66]:
        # 63 deleted, 62 outside window -> kept)
        write_slice(spark, md, "s3.parquet", _mk_rows(range(64, 67)))
        p = Processing(spark, md, 1, "s3.parquet", {"processing.time": T2, **opts})
        p.process()
        out = p.silver_table().read()
        results[tag] = {
            (r["ID"], r["SeqNr"], r["data"], r[f"{prefix}deleted"])
            for r in out.collect()
        }
    assert results["partitioned"] == results["plain"]
    assert any(d for (_i, _s, _d, d) in results["plain"])  # something was deleted


def test_window_spec_in_sync_with_condition(spark):
    """build_window_spec returns None exactly when build_window_condition
    does, for the skip rules (missing column / one-sided bounds)."""
    from datalakefoundation_spark.metadata.models import Watermark
    from datalakefoundation_spark.watermark import build_window_condition

    schema = spark.createDataFrame([(1, 2)], "a int, b int").schema
    wms = [Watermark(entity_id=1, column_name="a", operation="and", operation_group=0, expression="'${last_value}'")]
    for prev, cur in [({"a": "1"}, {"a": "5"}), ({"a": None}, {"a": "5"}),
                      ({"a": "1"}, {"a": None}), ({}, {})]:
        cond = build_window_condition(schema, wms, prev, cur)
        sp = build_window_spec(schema, wms, prev, cur)
        assert (cond is None) == (sp is None)
    # missing column skips
    wms2 = [Watermark(entity_id=1, column_name="zz", operation="and", operation_group=0, expression="'${last_value}'")]
    assert build_window_spec(schema, wms2, {"zz": "1"}, {"zz": "2"}) is None


def test_prune_spec_for_user_predicates(spark, tmp_path):
    from datalakefoundation_spark.tables.lake_table import LakeTable, prune_spec_for

    t = LakeTable(spark, str(tmp_path / "user_prune"), stats_columns=["seq"])
    t.overwrite(
        spark.createDataFrame([(i, f"r{i}") for i in range(100)], "seq int, v string")
    )
    t.append(
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(1000, 1100)], "seq int, v string"
        )
    )
    # range hitting only the second segment: first is pruned
    spec = prune_spec_for([("seq", ">=", 1000)])
    df = t.read(prune_spec=spec)
    assert df.where("seq >= 1000").count() == 100
    files = df.inputFiles()
    assert files and all("v00001" in f for f in files)
    # equality inside the first segment only
    spec = prune_spec_for([("seq", "==", 5)])
    assert t.read(prune_spec=spec).where("seq = 5").count() == 1
    # conjunction that excludes both segments -> empty, schema preserved
    spec = prune_spec_for([("seq", ">", 100), ("seq", "<", 999)])
    empty = t.read(prune_spec=spec)
    assert empty.count() == 0 and set(empty.columns) == {"seq", "v"}
    # between with datetime values encodes like the stats (ISO strings)
    import datetime as dt

    spec = prune_spec_for([("ts", "between", (dt.date(2024, 1, 1), dt.date(2024, 2, 1)))])
    assert spec == [[("and", "ts", "2024-01-01", "2024-02-01")]]
    import pytest

    with pytest.raises(ValueError, match="unsupported op"):
        prune_spec_for([("seq", "!=", 5)])


class TestIsinPruneSpec:
    """Point-membership skipping (r10: the frontier band-key join's door).
    A segment survives iff its [min, max] contains at least one value;
    evaluation is a bisect, not an O(values) interval sweep."""

    def _stats(self, mn, mx, t="num"):
        return {"k": {"min": mn, "max": mx, "t": t}}

    def test_value_inside_range_keeps(self):
        from datalakefoundation_spark.tables.lake_table import (
            prune_spec_isin,
            segment_may_match,
        )

        spec = prune_spec_isin("k", [5, 40, 900])
        assert segment_may_match(self._stats(30, 50), spec)          # 40 in
        assert segment_may_match(self._stats(900, 1000), spec)       # edge
        assert segment_may_match(self._stats(0, 5), spec)            # edge
        assert not segment_may_match(self._stats(6, 39), spec)       # gap
        assert not segment_may_match(self._stats(41, 899), spec)     # gap
        assert not segment_may_match(self._stats(901, 5000), spec)   # above
        assert not segment_may_match(self._stats(0, 4), spec)        # below

    def test_string_keys(self):
        from datalakefoundation_spark.tables.lake_table import (
            prune_spec_isin,
            segment_may_match,
        )

        spec = prune_spec_isin("k", ["0a", "7f", "ff"])
        assert segment_may_match(self._stats("70", "80", t="str"), spec)
        assert not segment_may_match(self._stats("80", "fe", t="str"), spec)
        assert segment_may_match(self._stats("fe", "ffx", t="str"), spec)

    def test_missing_and_all_null_stats(self):
        from datalakefoundation_spark.tables.lake_table import (
            prune_spec_isin,
            segment_may_match,
        )

        spec = prune_spec_isin("k", [1])
        assert segment_may_match(None, spec)                  # unknown: keep
        assert segment_may_match({"other": {}}, spec)         # no column
        assert not segment_may_match(self._stats(None, None), spec)  # all-NULL

    def test_composes_with_interval_groups(self):
        from datalakefoundation_spark.tables.lake_table import (
            prune_spec_isin,
            segment_may_match,
        )

        spec = prune_spec_isin("k", [10]) + [[("and", "v", 100, 200)]]
        stats = {"k": {"min": 0, "max": 20, "t": "num"},
                 "v": {"min": 150, "max": 180, "t": "num"}}
        assert segment_may_match(stats, spec)
        stats["v"] = {"min": 300, "max": 400, "t": "num"}
        assert not segment_may_match(stats, spec)
