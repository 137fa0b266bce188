"""Metadata-assisted exact SUM/MIN/MAX/COUNT (``agg_where``):
count_where's three-tier zone-map classification generalized to an
aggregate list. Must-match files answer count(*) / count(col) /
min/max(numeric col) straight from footer stats without being read;
sum-bearing requests scan the may-match sliver (columnar projection);
min/max-only requests additionally skip boundary files their zone maps
prove non-competitive (dominance pruning).

The reference pushes aggregates to the warehouse SQL engine
(``airbyte/datasets/_sql.py``); Delta/Iceberg answer only unfiltered
counts from their logs — this extends the manifest-answering trick to
predicated MIN/MAX/COUNT.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyairbyte_spark.filestats import dnf_to_column, normalize_dnf
from pyairbyte_spark.writers import CommitLogTableStore


@pytest.fixture()
def store(spark, tmp_path):
    return CommitLogTableStore(spark, str(tmp_path / "wh"), "main")


def _seed(spark, store, n=20000, files=8):
    df = (
        spark.range(0, n)
        .toDF("id")
        .withColumn("v", (F.col("id") * 7919) % 1000)
        .withColumn(
            "s", F.concat(F.lit("row"), F.col("id").cast("string"))
        )
        .withColumn(
            "nv",
            F.when(F.col("id") % 10 == 0, None).otherwise(F.col("v")),
        )
    )
    store.write_append(df.coalesce(files), "t", None)
    store.compact("t", sort_by=["id"], target_files=files)


def _truth(store, preds, exprs):
    c = dnf_to_column(normalize_dnf(preds))
    df = store.read("t")
    if c is not None:
        df = df.filter(c)
    return df.agg(*exprs).collect()[0]


def test_minmax_count_from_metadata_only(spark, store):
    _seed(spark, store)
    # unfiltered min/max/count of the cluster key: every file is
    # must-match with exact numeric stats — ZERO files read
    r = store.agg_where(
        "t", [("min", "id"), ("max", "id"), ("count", "*")]
    )
    assert r["aggs"] == {"min_id": 0, "max_id": 19999, "count_star": 20000}
    assert r["files_scanned"] == 0
    assert r["files_metadata"] == r["files_total"]
    # count(col) uses rows - nulls from the footer: still zero reads
    r2 = store.agg_where("t", [("count", "nv")])
    assert r2["aggs"]["count_nv"] == 18000 and r2["files_scanned"] == 0


def test_range_minmax_reads_boundary_only(spark, store):
    _seed(spark, store)
    preds = [("id", "<", 7500)]
    r = store.agg_where("t", [("min", "id"), ("max", "id")], preds)
    truth = _truth(store, preds, [F.min("id"), F.max("id")])
    assert r["aggs"] == {"min_id": truth[0], "max_id": truth[1]}
    # interior files answer from metadata; with dominance pruning the
    # boundary file can't improve min=0 but CAN carry the max -> at
    # most one file read
    assert r["files_scanned"] <= 1
    assert r["files_metadata"] >= 2


def test_dominance_pruning_skips_noncompetitive_boundaries(spark, store):
    _seed(spark, store)
    # min of the cluster key over a range whose interior holds the
    # answer: every boundary file's stats.min >= 0 is dominated by the
    # metadata candidate 0 -> ZERO files read
    r = store.agg_where("t", [("min", "id")], [("id", "<", 7500)])
    assert r["aggs"]["min_id"] == 0 and r["files_scanned"] == 0


def test_sum_scans_only_the_matching_sliver(spark, store):
    _seed(spark, store)
    preds = [("id", "<", 2500)]
    r = store.agg_where("t", [("sum", "v"), ("count", "*")], preds)
    truth = _truth(
        store, preds, [F.sum("v"), F.count(F.lit(1)).cast("long")]
    )
    assert r["aggs"]["sum_v"] == truth[0]
    assert r["aggs"]["count_star"] == truth[1] == 2500
    # sum has no footer stat: matching files scan, pruned files don't
    assert 0 < r["files_scanned"] < r["files_total"]
    assert r["files_metadata"] == 0


def test_unclustered_and_string_columns_scan_exactly(spark, store):
    _seed(spark, store)
    # v is unclustered: no must-match proof -> pruned scan, still exact
    preds = [("v", ">=", 500)]
    r = store.agg_where(
        "t", [("min", "v"), ("max", "v"), ("count", "*"), ("sum", "v")],
        preds,
    )
    truth = _truth(
        store,
        preds,
        [
            F.min("v"),
            F.max("v"),
            F.count(F.lit(1)).cast("long"),
            F.sum("v"),
        ],
    )
    assert r["aggs"] == {
        "min_v": truth[0],
        "max_v": truth[1],
        "count_star": truth[2],
        "sum_v": truth[3],
    }
    # string min/max: footer stats may truncate -> never metadata-tier
    r2 = store.agg_where("t", [("min", "s"), ("max", "s")])
    truth2 = _truth(store, None, [F.min("s"), F.max("s")])
    assert r2["aggs"] == {"min_s": truth2[0], "max_s": truth2[1]}
    assert r2["files_metadata"] == 0


def test_empty_match_and_nulls_semantics(spark, store):
    _seed(spark, store)
    r = store.agg_where(
        "t",
        [("count", "*"), ("sum", "v"), ("min", "id")],
        [("id", ">", 10**9)],
    )
    assert r["aggs"] == {"count_star": 0, "sum_v": None, "min_id": None}
    assert r["files_scanned"] == 0
    # nullable column min/max from metadata ignores nulls (SQL)
    r2 = store.agg_where("t", [("min", "nv"), ("max", "nv")])
    truth = _truth(store, None, [F.min("nv"), F.max("nv")])
    assert r2["aggs"] == {"min_nv": truth[0], "max_nv": truth[1]}


def test_mor_deletes_degrade_to_exact_scan(spark, store):
    _seed(spark, store, n=4000, files=4)
    store.delete_where("t", [[("id", "<", 100)]], mode="mor")
    r = store.agg_where("t", [("min", "id"), ("count", "*")])
    assert r["aggs"] == {"min_id": 100, "count_star": 3900}
    # the driver loop keeps classifying: metadata tier off, every live
    # file scanned (with the DVs applied) and counted
    man = store._read_manifest("t", store.latest_version("t"))
    assert r["files_total"] == sum(len(e["files"]) for e in man["entries"])
    assert r["files_scanned"] == r["files_total"]
    assert r["files_metadata"] == 0


def test_agg_where_validation(spark, store):
    _seed(spark, store, n=100, files=1)
    with pytest.raises(ValueError, match="unsupported aggregate"):
        store.agg_where("t", [("median", "v")])
    with pytest.raises(ValueError, match="not an aggregate"):
        store.agg_where("t", [("min", "*")])
    with pytest.raises(ValueError, match="at least one"):
        store.agg_where("t", [])


def test_avg_scans_matching_sliver_exactly(spark, store):
    _seed(spark, store)
    preds = [("id", "<", 2500)]
    r = store.agg_where("t", [("avg", "v"), ("count", "*")], preds)
    truth = _truth(
        store, preds, [F.avg("v"), F.count(F.lit(1)).cast("long")]
    )
    assert r["aggs"]["avg_v"] == truth[0]
    assert r["aggs"]["count_star"] == truth[1]
    assert 0 < r["files_scanned"] < r["files_total"]
    # empty match: SQL semantics (avg NULL)
    r2 = store.agg_where("t", [("avg", "v")], [("id", ">", 10**9)])
    assert r2["aggs"]["avg_v"] is None


def test_distributed_manifest_paths(spark, tmp_path, monkeypatch):
    """Checkpoint-sidecar snapshots: count(*)-only requests ride the
    distributed three-tier classifier (driver never materializes the
    entry list); since r13 MIXED count/min/max lists ride it too, with
    the metadata tier intact; only sum/avg-bearing requests degrade to
    one pruned scan — equal answers every way."""
    from pyairbyte_spark import manifest as mf

    monkeypatch.setattr(mf, "PARQUET_CHECKPOINT_MIN_ENTRIES", 1)
    dist = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    dist.DISTRIBUTED_MANIFEST_MIN_BYTES = 0
    drv = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    _seed(spark, drv)
    preds = [("id", "<", 7500)]
    rc = dist.agg_where("t", [("count", "*")], preds)
    assert rc["aggs"]["count_star"] == 7500
    assert rc["files_metadata"] and rc["files_metadata"] > 0  # meta tier ran
    a = drv.agg_where("t", [("min", "v"), ("max", "v"), ("sum", "v")], preds)
    b = dist.agg_where("t", [("min", "v"), ("max", "v"), ("sum", "v")], preds)
    assert a["aggs"] == b["aggs"]


def test_distributed_mixed_agg_keeps_metadata_tier(
    spark, tmp_path, monkeypatch
):
    """Round-13 gate (r12 'what's missing' #3): a MIXED aggregate list
    on a checkpoint-sidecar snapshot answers from the distributed
    metadata tier — equal to the driver path in answers AND in tier
    accounting, with the entry list never collected to the driver."""
    from pyairbyte_spark import manifest as mf

    monkeypatch.setattr(mf, "PARQUET_CHECKPOINT_MIN_ENTRIES", 1)
    dist = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    dist.DISTRIBUTED_MANIFEST_MIN_BYTES = 0
    drv = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    _seed(spark, drv)
    # the entry list must never be materialized driver-side: poison
    # the driver-manifest reader on the distributed store
    monkeypatch.setattr(
        dist,
        "_read_manifest",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("distributed agg materialized the manifest")
        ),
    )
    # unfiltered min/max/count of the cluster key: every file is
    # must-match with exact numeric stats -> ZERO files read
    mixed = [("min", "id"), ("max", "id"), ("count", "*"), ("count", "nv")]
    r = dist.agg_where("t", mixed)
    assert r["aggs"] == {
        "min_id": 0,
        "max_id": 19999,
        "count_star": 20000,
        "count_nv": 18000,
    }
    assert r["files_scanned"] == 0
    assert r["files_metadata"] == r["files_total"]
    # range predicate: driver and distributed agree on answers and on
    # the tier split (interior files metadata, boundary scanned)
    preds = [("id", "<", 7500)]
    a = drv.agg_where("t", mixed, preds)
    b = dist.agg_where("t", mixed, preds)
    assert a["aggs"] == b["aggs"]
    assert b["files_metadata"] == a["files_metadata"]
    assert b["files_scanned"] == a["files_scanned"]
    # min/max-only keeps dominance pruning in the distributed venue
    a2 = drv.agg_where("t", [("min", "id"), ("max", "id")], preds)
    b2 = dist.agg_where("t", [("min", "id"), ("max", "id")], preds)
    assert a2["aggs"] == b2["aggs"]
    assert b2["files_scanned"] == a2["files_scanned"] <= 1
    # empty match set: SQL semantics either way
    b3 = dist.agg_where("t", mixed, [("id", ">", 10**9)])
    assert b3["aggs"] == {
        "min_id": None,
        "max_id": None,
        "count_star": 0,
        "count_nv": 0,
    }
    # column mapping: a renamed column's stats live under the PHYSICAL
    # name; both venues must resolve through the mapping identically
    drv.rename_column("t", "v", "val")
    dist2 = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    dist2.DISTRIBUTED_MANIFEST_MIN_BYTES = 0
    a4 = drv.agg_where("t", [("min", "val"), ("max", "val")], preds)
    b4 = dist2.agg_where("t", [("min", "val"), ("max", "val")], preds)
    assert a4["aggs"] == b4["aggs"]
    assert b4["files_metadata"] == a4["files_metadata"]
