"""Metadata-assisted exact COUNT (``count_where``): zone maps classify
files into pruned / fully-covered / boundary tiers; fully-covered files
contribute their exact footer row counts WITHOUT being read, boundary
files scan with the residual filter. Exact in every tier mix.

The reference's count surface is ``SELECT count(*)`` pushed to the
warehouse (``airbyte/datasets/_sql.py:123-130``); this is the
table-format-native version — Delta answers unfiltered counts from its
log, extended here to predicates via the must-match dual of skipping.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pyairbyte_spark import manifest as mf
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
    )
    store.write_append(df.coalesce(files), "t", None)
    store.compact("t", sort_by=["id"], target_files=files)


def _truth(store, preds):
    c = dnf_to_column(normalize_dnf(preds))
    df = store.read("t")
    return (df.filter(c) if c is not None else df).count()


def test_count_tiers_and_exactness(spark, store):
    _seed(spark, store)
    # unfiltered: pure manifest arithmetic, zero files touched
    r = store.count_where("t")
    assert r["count"] == 20000 and r["files_scanned"] == 0
    assert r["files_metadata"] == r["files_total"]
    # clustered range: interior files counted from metadata, only files
    # actually straddling the cut scanned. Derive the boundary tier from
    # the ACTUAL manifest — a file edge landing exactly on the cut makes
    # the pure-metadata plan valid (files_scanned == 0), which is
    # correct, not a failure (r13 flake class).
    preds = [("id", "<", 7500)]
    r = store.count_where("t", preds)
    assert r["count"] == _truth(store, preds) == 7500
    man = store._read_manifest("t", store.latest_version("t"))
    spans = [
        f["stats"]["id"]
        for e in man["entries"]
        for f in (e.get("files") or [])
        if (f.get("stats") or {}).get("id")
    ]
    boundary = sum(1 for s in spans if s["min"] < 7500 <= s["max"])
    assert r["files_scanned"] == boundary
    assert r["files_metadata"] >= 2
    # point lookup: no metadata proof (min<val<max), one file scanned
    r = store.count_where("t", [("id", "=", 5)])
    assert r["count"] == 1 and r["files_scanned"] == 1
    # DNF (two ranges): both boundary files scanned, still exact
    preds = [[("id", "<", 100)], [("id", ">=", 19900)]]
    r = store.count_where("t", preds)
    assert r["count"] == _truth(store, preds) == 200
    # unclustered column: no proofs either way — full scan, exact
    preds = [("v", "<", 500)]
    r = store.count_where("t", preds)
    assert r["count"] == _truth(store, preds)
    assert r["files_scanned"] == r["files_total"]


def test_count_exact_under_mor_deletes(spark, store):
    _seed(spark, store, n=5000, files=4)
    store.delete_where("t", [[("id", "<", 10)]], mode="mor")
    # footer counts are poisoned by DVs: no metadata tier for
    # predicated counts, yet results stay exact...
    preds = [("id", "<", 2500)]
    r = store.count_where("t", preds)
    assert r["count"] == _truth(store, preds) == 2490
    assert r["files_metadata"] == 0
    # ...while zone-map pruning still holds: every live file is
    # counted, only the may-match ones are scanned (integers, not None)
    man = store._read_manifest("t", store.latest_version("t"))
    spans = [f["stats"]["id"] for e in man["entries"] for f in e["files"]]
    assert r["files_total"] == len(spans)
    assert r["files_scanned"] == sum(1 for s in spans if s["min"] < 2500)
    # ...and the unfiltered count corrects via the manifest's DV rows
    # without reading anything
    r = store.count_where("t")
    assert r["count"] == 4990 and r["files_scanned"] == 0


def test_count_null_semantics(spark, store):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], "id long, v string"
    )
    store.write_append(df.coalesce(1), "t", None)
    assert store.count_where("t", [("v", "is_null",)])["count"] == 2
    assert store.count_where("t", [("v", "not_null",)])["count"] == 2
    # comparison never matches nulls: metadata proof requires nulls==0
    assert store.count_where("t", [("v", ">=", "a")])["count"] == 2


def test_count_after_delete_and_update(spark, store):
    _seed(spark, store, n=3000, files=3)
    store.delete_where("t", [[("id", ">=", 2000)]])  # COW
    store.update_where(
        "t", [[("id", "<", 10)]], {"v": "v + 10000"}
    )
    for preds in (None, [("id", "<", 1000)], [("v", ">=", 10000)]):
        assert store.count_where("t", preds)["count"] == _truth(
            store, preds
        ) if preds else store.count_where("t")["count"] == 2000


def test_count_distributed_equals_driver(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(mf, "PARQUET_CHECKPOINT_MIN_ENTRIES", 1)
    dist = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    dist.DISTRIBUTED_MANIFEST_MIN_BYTES = 0
    drv = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    _seed(spark, drv)
    for preds in (
        None,
        [("id", "<", 7500)],
        [("id", "=", 5)],
        [[("id", "<", 100)], [("id", ">=", 19900)]],
        [("v", "<", 500)],
    ):
        a = drv.count_where("t", preds)
        b = dist.count_where("t", preds)
        assert a["count"] == b["count"], (preds, a, b)
    # boundary-heavy distributed count degrades to one pruned scan.
    # Derive the cut strictly inside one file's [min, max] from the
    # ACTUAL manifest, so the layout provably has >=1 boundary file no
    # matter how Spark happened to split the seed (a cut landing
    # exactly on a file edge would make the pure-metadata plan valid
    # and the fallback never trigger).
    man = drv._read_manifest("t", drv.latest_version("t"))
    spans = [
        f["stats"]["id"]
        for e in man["entries"]
        for f in (e.get("files") or [])
        if (f.get("stats") or {}).get("id")
    ]
    cut = next(
        (s["min"] + s["max"]) // 2 + 1
        for s in spans
        if s["max"] - s["min"] >= 2
    )
    dist.COUNT_SCAN_FALLBACK_MAX = 0
    r = dist.count_where("t", [("id", "<", cut)])
    assert r["count"] == cut and r["files_metadata"] == 0
    del dist.COUNT_SCAN_FALLBACK_MAX
    # count_where is agg_where's count(*) on both venues, before and
    # after a merge-on-read (DV-bearing) delete: the driver scans with
    # the DVs applied, the distributed venue degrades to one pruned scan
    preds = [("id", "<", 7500)]
    for mor in (False, True):
        if mor:
            drv.delete_where("t", [[("id", "<", 10)]], mode="mor")
        for st in (drv, dist):
            r = st.count_where("t", preds)
            agg = st.agg_where("t", [("count", "*")], preds)
            assert r["count"] == agg["aggs"]["count_star"] == 7500 - 10 * mor


def _strip_schemas(st, table):
    """Remove every recorded ``schema`` key from the table's stored
    commits; returns a fresh store over the table."""

    def patch(node):
        if isinstance(node, dict):
            node.pop("schema", None)
            for v in node.values():
                patch(v)
        elif isinstance(node, list):
            for v in node:
                patch(v)

    d = st._commits_dir(table)
    for name in os.listdir(d):
        if name.endswith(".json"):
            p = os.path.join(d, name)
            with open(p) as fh:
                doc = json.load(fh)
            patch(doc)
            with open(p, "w") as fh:
                json.dump(doc, fh)
    return CommitLogTableStore(
        st.spark, os.path.dirname(st.root), os.path.basename(st.root)
    )


def test_metadata_count_without_recorded_schema_runs_no_job(spark, store):
    """Column types are resolved only for min/max: a count(*) answered
    wholly from metadata on a manifest with no recorded schema must not
    pay a schema-inference job."""
    _seed(spark, store, n=2000, files=2)
    fresh = _strip_schemas(store, "t")
    man = fresh._read_manifest("t", fresh.latest_version("t"))
    assert fresh._logical_types(man) is None
    sc = spark.sparkContext
    sc.setJobGroup("count-no-schema", "metadata-answered count_where")
    try:
        r = fresh.count_where("t", [("id", ">=", 0)])
        agg = fresh.agg_where("t", [("count", "*")], [("id", ">=", 0)])
    finally:
        sc.setJobGroup(None, None)
    assert r["count"] == 2000 and r["files_scanned"] == 0
    assert r["files_metadata"] == r["files_total"] >= 1
    assert agg["aggs"]["count_star"] == 2000 and agg["files_scanned"] == 0
    assert sc.statusTracker().getJobIdsForGroup("count-no-schema") == []


def test_count_on_clone_and_branch(spark, store):
    _seed(spark, store, n=2000, files=2)
    store.clone_table("t", "c")
    assert store.count_where("c", [("id", "<", 500)])["count"] == 500
    store.create_branch("t", "audit")
    bv = store.branch("audit")
    bv.write_append(
        spark.range(90000, 90100)
        .toDF("id")
        .withColumn("v", F.lit(0).cast("long"))
        .coalesce(1),
        "t",
        None,
    )
    # branch counts see the fork's candidate rows; main doesn't
    assert bv.count_where("t", [("id", ">=", 90000)])["count"] == 100
    assert store.count_where("t", [("id", ">=", 90000)])["count"] == 0


def test_count_cache_and_tool_surface(spark, tmp_path):
    from pyairbyte_spark import tools
    from pyairbyte_spark.cache import SparkCache

    cache = SparkCache(
        spark, str(tmp_path / "cwh"), table_format="commitlog"
    )
    cache.write_dataframe(
        spark.range(0, 100).toDF("id").withColumn("v", F.col("id") % 10),
        "nums",
    )
    r = tools.count_table_rows(cache, "nums")
    assert r["count"] == 100 and r["files_scanned"] == 0
    r = tools.count_table_rows(cache, "nums", [[["id", "<", 50]]])
    assert r["count"] == 50
