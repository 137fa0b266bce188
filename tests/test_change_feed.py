"""Change data feed on the commit-log store (Delta CDF analogue).

Semantics under test: read_changes(t, a, b) returns exactly the row
changes that turn snapshot a into snapshot b — appends are free,
merges diff only touched buckets and classify insert vs
update_postimage on the recorded primary keys, rewritten-but-identical
rows are suppressed, replaces are delete+insert, compacts are silent.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyairbyte_spark import writers
from pyairbyte_spark.writers import CommitLogTableStore


@pytest.fixture()
def store(spark, tmp_path):
    return CommitLogTableStore(spark, str(tmp_path / "wh"), "main")


@pytest.fixture()
def bstore(spark, tmp_path):
    return CommitLogTableStore(spark, str(tmp_path / "bwh"), "main", merge_buckets=8)


def _df(spark, rows, raw_prefix="r"):
    df = spark.createDataFrame(rows, ["id", "v"])
    return df.withColumn(
        "_airbyte_raw_id", F.concat(F.lit(raw_prefix), F.col("id").cast("string"))
    ).withColumn("_airbyte_extracted_at", F.current_timestamp())


def _changes(df):
    return sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["v"])
        for r in df.select("_commit_version", "_change_type", "id", "v").collect()
    )


def test_append_changes_are_inserts(spark, store):
    store.write_append(_df(spark, [(1, "a")]), "t")
    store.write_append(_df(spark, [(2, "b"), (3, "c")]), "t")
    assert _changes(store.read_changes("t", 0)) == [
        (1, "insert", 1, "a"),
        (2, "insert", 2, "b"),
        (2, "insert", 3, "c"),
    ]
    # window selection: only the second commit
    assert _changes(store.read_changes("t", 1, 2)) == [
        (2, "insert", 2, "b"),
        (2, "insert", 3, "c"),
    ]
    # empty window
    assert store.read_changes("t", 2, 2).count() == 0


def test_merge_classifies_insert_vs_update(spark, store):
    store.write_merge(_df(spark, [(1, "v0"), (2, "v0")]), "t", ["id"])
    store.write_merge(_df(spark, [(1, "v1"), (3, "v0")], raw_prefix="s"), "t", ["id"])
    assert _changes(store.read_changes("t", 1)) == [
        (2, "insert", 3, "v0"),
        (2, "update_postimage", 1, "v1"),
    ]


def test_merge_identical_rewrite_is_suppressed(spark, store):
    """Re-syncing identical user data (new raw ids) emits no changes."""
    store.write_merge(_df(spark, [(1, "a"), (2, "b")]), "t", ["id"])
    store.write_merge(_df(spark, [(1, "a"), (2, "b")], raw_prefix="z"), "t", ["id"])
    assert store.read_changes("t", 1).count() == 0


def test_bucketed_merge_diffs_only_touched_buckets(spark, bstore):
    rows = [(i, "v0") for i in range(200)]
    bstore.write_merge(_df(spark, rows), "t", ["id"])
    upd = _df(spark, [(5, "v1"), (999, "new")], raw_prefix="s")
    bstore.write_merge(upd, "t", ["id"])
    assert _changes(bstore.read_changes("t", 1)) == [
        (2, "insert", 999, "new"),
        (2, "update_postimage", 5, "v1"),
    ]


def test_replace_emits_delete_plus_insert(spark, store):
    store.write_append(_df(spark, [(1, "a"), (2, "b")]), "t")
    store.write_replace(_df(spark, [(9, "z")]), "t")
    assert _changes(store.read_changes("t", 1)) == [
        (2, "delete", 1, "a"),
        (2, "delete", 2, "b"),
        (2, "insert", 9, "z"),
    ]


def test_compact_is_change_free(spark, store):
    store.write_append(_df(spark, [(1, "a")]), "t")
    store.write_append(_df(spark, [(2, "b")]), "t")
    store.compact("t")
    assert store.latest_version("t") == 3
    assert store.read_changes("t", 2).count() == 0
    # and the full feed is unaffected by the compact commit
    assert [c[1] for c in _changes(store.read_changes("t", 0))] == [
        "insert",
        "insert",
    ]


def test_changes_since_creation_replay_rebuilds_table(spark, bstore):
    """Folding the change feed (latest per key, minus deletes) must
    reproduce the live snapshot — the invariant a downstream CDC
    consumer relies on."""
    bstore.write_merge(_df(spark, [(i, "v0") for i in range(50)]), "t", ["id"])
    bstore.write_merge(
        _df(spark, [(3, "v1"), (60, "v0")], raw_prefix="s"), "t", ["id"]
    )
    bstore.write_merge(
        _df(spark, [(3, "v2"), (7, "v1")], raw_prefix="u"), "t", ["id"]
    )
    from pyspark.sql import Window

    feed = bstore.read_changes("t", 0)
    w_latest = (
        feed.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(F.col("_commit_version").desc())
            ),
        )
        .filter((F.col("_rn") == 1) & (F.col("_change_type") != "delete"))
        .select("id", "v")
    )
    got = sorted((r["id"], r["v"]) for r in w_latest.collect())
    want = sorted(
        (r["id"], r["v"]) for r in bstore.read("t").select("id", "v").collect()
    )
    assert got == want


def test_pre_cdf_merge_manifest_falls_back_to_upsert(spark, store):
    import json
    import os

    store.write_merge(_df(spark, [(1, "a")]), "t", ["id"])
    store.write_merge(_df(spark, [(1, "b"), (2, "a")], raw_prefix="s"), "t", ["id"])
    d = store._commits_dir("t")
    p = os.path.join(d, f"{2:020d}.json")
    with open(p) as fh:
        man = json.load(fh)
    man.pop("primary_keys")
    with open(p, "w") as fh:
        json.dump(man, fh)
    # a FRESH store models the real case (legacy table, new reader);
    # the writing store may legitimately cache its own immutable commit
    from pyairbyte_spark.writers import CommitLogTableStore

    fresh = CommitLogTableStore(
        spark, os.path.dirname(store.root), os.path.basename(store.root)
    )
    got = _changes(fresh.read_changes("t", 1))
    assert got == [(2, "upsert", 1, "b"), (2, "upsert", 2, "a")]


def test_schema_evolution_new_column_flows_through_feed(spark, store):
    store.write_merge(_df(spark, [(1, "a")]), "t", ["id"])
    wide = _df(spark, [(2, "b")], raw_prefix="s").withColumn("extra", F.lit(7))
    store.write_merge(wide, "t", ["id"])
    feed = store.read_changes("t", 1)
    assert "extra" in feed.columns
    assert [(r["id"], r["extra"]) for r in feed.collect()] == [(2, 7)]


def test_bad_version_window_raises(spark, store):
    store.write_append(_df(spark, [(1, "a")]), "t")
    with pytest.raises(ValueError, match="after to_version"):
        store.read_changes("t", 5, 1)
    with pytest.raises(FileNotFoundError):
        store.read_changes("missing", 0)


def _all_changes(df):
    cols = [c for c in df.columns]
    return cols, sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    )


@pytest.mark.slow
def test_grouped_append_steps_match_per_commit_path(spark, store, monkeypatch):
    """Adjacent plain appends fold into one grouped scan; rows, tags,
    versions and column order must be identical to the per-commit
    formulation (the equality escape hatch: grouping disabled)."""
    store.write_append(_df(spark, [(1, "a"), (2, "b")]), "t")
    store.write_append(_df(spark, [(3, "c")]), "t")
    store.write_append(_df(spark, [(4, "d"), (5, "e")]), "t")
    store.delete_where("t", [("id", "=", 2)])
    store.write_append(_df(spark, [(6, "f")]), "t")
    store.write_append(_df(spark, [(7, "g")]), "t")
    store.update_where("t", [("id", "=", 7)], {"v": "'G'"})
    store.rename_column("t", "v", "w")
    store.write_append(
        _df(spark, [(8, "h")]).withColumnRenamed("v", "w"), "t"
    )
    store.write_append(
        _df(spark, [(9, "i")]).withColumnRenamed("v", "w"), "t"
    )

    def snap(disable, **kw):
        orig = CommitLogTableStore._cdf_groupable_append
        if disable:
            CommitLogTableStore._cdf_groupable_append = (
                lambda self, tn, ver: None
            )
        try:
            return _all_changes(store.read_changes("t", 0, **kw))
        finally:
            CommitLogTableStore._cdf_groupable_append = orig

    for kw in ({}, {"include_preimages": True}):
        new_cols, new_rows = snap(False, **kw)
        old_cols, old_rows = snap(True, **kw)
        assert new_cols == old_cols
        assert new_rows == old_rows
    # partial windows straddling run boundaries
    for fv in (1, 2, 4, 6, 8):
        assert snap(False) == snap(True)
        nc, nr = _all_changes(store.read_changes("t", fv))
        oc, orows = _all_changes(store.read_changes("t", fv))
        assert (nc, nr) == (oc, orows)
    # a run longer than CDF_APPEND_RUN_MAX splits into several grouped
    # scans, each within the cap
    for i in range(10, 17):
        store.write_append(
            _df(spark, [(i, f"x{i}")]).withColumnRenamed("v", "w"), "t"
        )
    monkeypatch.setattr(writers, "CDF_APPEND_RUN_MAX", 3)
    runs = []
    step = CommitLogTableStore._grouped_append_step

    def spy(self, table_name, run, sig):
        runs.append(len(run))
        return step(self, table_name, run, sig)

    monkeypatch.setattr(CommitLogTableStore, "_grouped_append_step", spy)
    assert snap(False) == snap(True)
    assert len(runs) > 1 and max(runs) <= 3, runs


def test_grouped_append_window_plans_one_scan(spark, store):
    """A K-append window builds O(1) scan relations, not O(K)."""
    for i in range(6):
        store.write_append(_df(spark, [(10 + i, f"x{i}")]), "t")
    df = store.read_changes("t", 0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert _changes(df) == [
        (i + 1, "insert", 10 + i, f"x{i}") for i in range(6)
    ]
