"""Per-file bloom-filter point-lookup index (bloom.py + writers.py).

Zone maps cannot prune equality lookups on high-cardinality unsorted
keys (every file's [min, max] spans the domain); the bloom index can.
The exactness contract: results with and without the index are
IDENTICAL — skipping only removes files that provably contain no match.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyairbyte_spark import bloom as bl
from pyairbyte_spark import manifest as mf
from pyairbyte_spark.writers import CommitLogTableStore


@pytest.fixture()
def store(spark, tmp_path):
    return CommitLogTableStore(spark, str(tmp_path / "wh"), "main")


def _batch(spark, lo, hi):
    """High-cardinality unsorted keys: md5 strings span the full hex
    range in EVERY file, so string zone maps prune nothing."""
    return (
        spark.range(lo, hi)
        .withColumn("key", F.md5(F.col("id").cast("string")))
        .withColumn("v", F.col("id") * 2)
        .withColumn("_airbyte_raw_id", F.col("id").cast("string"))
        .withColumn("_airbyte_extracted_at", F.current_timestamp())
        .coalesce(1)
    )


def _key_of(spark, i):
    return spark.range(i, i + 1).select(
        F.md5(F.col("id").cast("string"))
    ).first()[0]


def _seed(spark, store, n_files=6, per=500):
    for i in range(n_files):
        store.write_append(_batch(spark, i * per, (i + 1) * per), "t")


def test_unit_bloom_roundtrip():
    m, k = bl.size_bits(1000, 0.01)
    bits = bl.build_bits([str(i) for i in range(1000)], m, k)
    assert all(bl.maybe_contains(bits, m, k, str(i)) for i in range(1000))
    misses = sum(
        bl.maybe_contains(bits, m, k, f"x{i}") for i in range(2000)
    )
    assert misses < 2000 * 0.05  # ~1% target, generous bound


def test_unit_lanes_fold_bit_identical():
    """build_bits_from_lanes (the distributed build's numpy fold over
    JVM-computed md5 lanes) must produce byte-identical bitsets to
    build_bits (which hashes in Python), including NULL keys (-1
    sentinels, contributing no bits)."""
    import hashlib

    import numpy as np

    m, k = bl.size_bits(1000, 0.01)
    vals = [str(i) for i in range(1000)]
    h1 = np.array(
        [int(hashlib.md5(v.encode()).hexdigest()[:15], 16) for v in vals]
        + [-1, -1],
        dtype=np.int64,
    )
    h2 = np.array(
        [
            int(hashlib.md5(v.encode()).hexdigest()[15:30], 16) | 1
            for v in vals
        ]
        + [-1, -1],
        dtype=np.int64,
    )
    assert bl.build_bits_from_lanes(h1, h2, m, k) == bl.build_bits(
        vals, m, k
    )
    # all-NULL input: empty bitset
    empty = np.array([-1], dtype=np.int64)
    assert bl.build_bits_from_lanes(empty, empty, m, k) == bytes(
        (m + 7) // 8
    )


def test_point_lookup_prunes_files(spark, store):
    _seed(spark, store)
    r = store.build_bloom_index("t", ["key"])
    assert r["files_indexed"] == 6
    key = _key_of(spark, 1234)  # lives in file 2
    # without the index (fresh store over same warehouse, older version)
    pre = store.plan_scan("t", [("key", "=", key)], version=6)
    assert pre["files_selected"] == 6  # zone maps prune nothing
    post = store.plan_scan("t", [("key", "=", key)])
    assert post["files_selected"] <= 2  # the true file + rare fps
    got = store.read_where("t", [("key", "=", key)]).collect()
    assert len(got) == 1 and got[0]["id"] == 1234


def test_in_and_or_predicates_exact(spark, store):
    _seed(spark, store)
    store.build_bloom_index("t", ["key"])
    keys = [_key_of(spark, i) for i in (5, 777, 2999)]
    plan = store.plan_scan("t", [("key", "in", tuple(keys))])
    assert plan["files_selected"] <= 4
    got = sorted(
        r["id"]
        for r in store.read_where("t", [("key", "in", tuple(keys))]).collect()
    )
    assert got == [5, 777, 2999]
    # absent key: every file pruned, empty exact result
    none = store.read_where("t", [("key", "=", "no-such-key")])
    assert none.count() == 0


def test_exactness_sweep_vs_unindexed(spark, store, tmp_path):
    """Many lookups: indexed results == unindexed results, row for
    row (false positives only cost I/O, never correctness)."""
    plain = CommitLogTableStore(spark, str(tmp_path / "wh2"), "main")
    _seed(spark, store, n_files=4, per=250)
    _seed(spark, plain, n_files=4, per=250)
    store.build_bloom_index("t", ["key", "id"])
    cols = ["id", "key", "v"]  # extracted_at differs between seeds

    def rows(s, preds):
        return sorted(
            map(tuple, s.read_where("t", preds).select(*cols).collect())
        )

    for i in (0, 13, 999, 500, 123456):
        k = _key_of(spark, i)
        assert rows(store, [("key", "=", k)]) == rows(
            plain, [("key", "=", k)]
        ), i
        assert rows(store, [("id", "=", i)]) == rows(
            plain, [("id", "=", i)]
        ), i


def test_post_build_appends_conservative_then_only_missing(spark, store):
    _seed(spark, store, n_files=2)
    store.build_bloom_index("t", ["key"])
    store.write_append(_batch(spark, 5000, 5500), "t")  # uncovered
    key = _key_of(spark, 5100)
    plan = store.plan_scan("t", [("key", "=", key)])
    # covered files bloom-pruned; the new file kept conservatively
    assert plan["files_selected"] == 1
    assert store.read_where("t", [("key", "=", key)]).count() == 1
    r = store.build_bloom_index("t", ["key"], only_missing=True)
    assert r["files_indexed"] == 1  # only the uncovered file scanned
    # absent key now prunes everything including the new file
    assert store.plan_scan("t", [("key", "=", "nope")])["files_selected"] == 0


def test_index_survives_commits_and_guards(spark, store):
    _seed(spark, store, n_files=2)
    store.build_bloom_index("t", ["key"])
    store.write_append(_batch(spark, 9000, 9100), "t")
    store.delete_where("t", [("id", "<", 10)])
    man = store._read_manifest("t", store.latest_version("t"))
    assert man.get("bloom_index"), "index reference must be carried"
    with pytest.raises(ValueError, match="string/integral"):
        store.build_bloom_index("t", ["_airbyte_extracted_at"])
    with pytest.raises(ValueError, match="unknown column"):
        store.build_bloom_index("t", ["zz"])
    # the change feed skips the set_bloom_index commit
    vs = [
        v for v in range(1, store.latest_version("t") + 1)
        if store._read_manifest("t", v)["op"] == "set_bloom_index"
    ]
    assert vs
    assert store.read_changes("t", vs[0] - 1, vs[0]).count() == 0


def test_vacuum_reclaims_superseded_index(spark, store):
    _seed(spark, store, n_files=2)
    store.build_bloom_index("t", ["key"])
    ref1 = store._read_manifest("t", store.latest_version("t"))[
        "bloom_index"
    ]["ref"]
    store.build_bloom_index("t", ["key"])  # rebuild supersedes ref1
    ref2 = store._read_manifest("t", store.latest_version("t"))[
        "bloom_index"
    ]["ref"]
    assert ref1 != ref2
    removed = store.vacuum("t", keep_commits=1)
    assert ref1 in removed and ref2 not in removed
    key = _key_of(spark, 1)
    assert store.read_where("t", [("key", "=", key)]).count() == 1


def _venues(spark, wh):
    """Fresh stores over one warehouse, one per plan_scan bloom venue:
    the driver-cached index map, the oversize index's relational probe
    and the checkpoint sidecar frame."""
    drv = CommitLogTableStore(spark, wh, "main")
    ovs = CommitLogTableStore(spark, wh, "main")
    ovs._BLOOM_CACHE_MAX_BYTES = 16  # instance override: force oversize
    dist = CommitLogTableStore(spark, wh, "main")
    dist.DISTRIBUTED_MANIFEST_MIN_BYTES = 0
    return {"driver": drv, "oversize": ovs, "distributed": dist}


def _plan_view(plan):
    return (
        plan["files_total"],
        plan["files_selected"],
        plan.get("files_bloom_uncovered"),
        tuple(sorted(p for g in plan["groups"] for p in g["paths"] or [g["base"]])),
    )


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    import uuid

    sc = spark.sparkContext
    group = f"bloom-venue-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "bloom venue job count")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _plan_and_rows(st, preds):
    """One ``read_where``: the plan it ran and its ``(id, key)`` rows."""
    plans = []
    plan_scan = st.plan_scan
    st.plan_scan = lambda *a, **k: plans.append(plan_scan(*a, **k)) or plans[-1]
    rows = st.read_where("t", preds).select("id", "key").collect()
    return plans[-1], sorted(map(tuple, rows))


def test_distributed_path_blooms_equivalently(spark, tmp_path, monkeypatch):
    """All three venues apply one per-file rule: equal plans, equal
    rows, one ``files_bloom_uncovered`` (the live files without index
    rows, as ``bloom_coverage`` counts them) — also when an index part
    is truncated or the index dir is gone."""
    import os
    import shutil

    monkeypatch.setattr(mf, "PARQUET_CHECKPOINT_MIN_ENTRIES", 1)
    wh = str(tmp_path / "wh")
    st = CommitLogTableStore(spark, wh, "main")
    _seed(spark, st, n_files=4, per=300)
    st.build_bloom_index("t", ["key", "id"])
    st.write_append(_batch(spark, 5000, 5300), "t")  # uncovered
    # Zone maps prune nothing for a key lookup; the bits prune.
    key = _key_of(spark, 700)
    views = {
        n: _plan_and_rows(s, [("key", "=", key)])
        for n, s in _venues(spark, wh).items()
    }
    assert views["distributed"][0].get("distributed") is True
    assert views["driver"][0]["files_selected"] < 4
    assert views["driver"][1] == [(700, key)]
    assert len({(_plan_view(p), tuple(r)) for p, r in views.values()}) == 1
    # Zone maps keep one covered file and prune the uncovered one; the
    # uncovered count still covers every live file.
    preds = [("id", "=", 10), ("key", "=", _key_of(spark, 10))]
    want = [(10, _key_of(spark, 10))]
    assert st.bloom_coverage("t")["files_uncovered"] == 1
    assert _jobs(spark, lambda: st.plan_scan("t", preds))[1] == 0
    views = set()
    for n, s in _venues(spark, wh).items():
        p, rows = _plan_and_rows(s, preds)
        assert p["files_bloom_uncovered"] == 1 and rows == want, n
        views.add(_plan_view(p))
    assert len(views) == 1
    ref = st._read_manifest("t", st.latest_version("t"))["bloom_index"]["ref"]
    idx = os.path.join(st.table_path("t"), ref)
    (part,) = [p for p in os.listdir(idx) if p.endswith(".parquet")]
    # A truncated part covers nothing: its files are kept, and counted
    # uncovered, on every venue and by bloom_coverage.
    with open(os.path.join(idx, part), "r+b") as fh:
        fh.truncate(10)
    for n, s in _venues(spark, wh).items():
        p, rows = _plan_and_rows(s, preds)
        assert p["files_bloom_uncovered"] == 5 and rows == want, n
        assert s.bloom_coverage("t")["files_uncovered"] == 5, n
    # A removed index dir (vacuum of an old snapshot's index): nothing
    # is bloom-pruned and no uncovered count is reported.
    shutil.rmtree(idx)
    for n, s in _venues(spark, wh).items():
        p, rows = _plan_and_rows(s, preds)
        assert "files_bloom_uncovered" not in p and rows == want, n
        assert p["files_selected"] == 1, n
        assert s.bloom_coverage("t")["files_uncovered"] == 5, n


def test_bloom_on_bucketed_table(spark, tmp_path):
    """Bucketed layouts (files inside __pk_bucket= dirs): the build's
    file-key extraction and the probe's pruning both work; results
    exact."""
    store = CommitLogTableStore(
        spark, str(tmp_path / "b"), "main", merge_buckets=8
    )
    df = (
        spark.range(0, 2000)
        .withColumn("key", F.md5(F.col("id").cast("string")))
        .withColumn("_airbyte_raw_id", F.col("id").cast("string"))
        .withColumn(
            "_airbyte_extracted_at", F.lit("2026-01-01").cast("timestamp")
        )
    )
    store.write_merge(df, "t", ["id"])
    r = store.build_bloom_index("t", ["key"])
    assert r["files_indexed"] > 8
    key = _key_of(spark, 55)
    plan = store.plan_scan("t", [("key", "=", key)])
    assert plan["files_selected"] < plan["files_total"] // 4
    got = store.read_where("t", [("key", "=", key)]).collect()
    assert len(got) == 1 and got[0]["id"] == 55


# -- round 10: distributed build, rebase, clone carry, oversize probe ------


def test_build_rebases_past_concurrent_append(spark, store, tmp_path, monkeypatch):
    """set_bloom_index retry-rebases like every other verb: a racer's
    append landing between the build's scan and its commit must not
    discard the build — the re-commit carries the WINNER's entries,
    the racer's file stays conservatively uncovered, results exact."""
    _seed(spark, store, n_files=3)
    other = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    orig = store._commit
    raced = {"n": 0}

    def racy(table, manifest, version):
        if manifest.get("op") == "set_bloom_index" and raced["n"] == 0:
            raced["n"] = 1
            other.write_append(_batch(spark, 9000, 9500), "t")
        return orig(table, manifest, version)

    monkeypatch.setattr(store, "_commit", racy)
    r = store.build_bloom_index("t", ["key"])
    assert raced["n"] == 1 and r["files_indexed"] == 3
    man = store._read_manifest("t", store.latest_version("t"))
    assert man.get("bloom_index")
    # the racer's rows survived the rebase
    assert store.read("t").count() == 3 * 500 + 500
    # the racer's file is uncovered: conservatively kept, still exact
    key = _key_of(spark, 9100)
    plan = store.plan_scan("t", [("key", "=", key)])
    assert plan["files_bloom_uncovered"] == 1
    got = store.read_where("t", [("key", "=", key)]).collect()
    assert len(got) == 1 and got[0]["id"] == 9100


def test_build_race_threaded(spark, tmp_path):
    """A real threaded build-vs-append race: whatever the interleaving,
    both land, the index is live, and lookups stay exact."""
    import threading

    s1 = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    s2 = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    for i in range(3):
        s1.write_append(_batch(spark, i * 500, (i + 1) * 500), "t")
    errs: list = []
    gate = threading.Barrier(2)

    def build():
        try:
            gate.wait()
            s1.build_bloom_index("t", ["key"])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def append():
        try:
            gate.wait()
            s2.write_append(_batch(spark, 7000, 7500), "t")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=build), threading.Thread(target=append)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    fresh = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    man = fresh._read_manifest("t", fresh.latest_version("t"))
    assert man.get("bloom_index"), "both commits must have landed"
    assert fresh.read("t").count() == 2000
    for probe_id in (100, 7100):
        key = _key_of(spark, probe_id)
        got = fresh.read_where("t", [("key", "=", key)]).collect()
        assert len(got) == 1 and got[0]["id"] == probe_id


def test_clone_carries_bloom_index(spark, tmp_path):
    """SHALLOW CLONE shares the source's bloom index by base reference
    (rows key (entry, file) — identical in the clone): clone point
    lookups prune from commit 1 with NO rebuild."""
    src = CommitLogTableStore(spark, str(tmp_path / "a"), "main")
    _seed(spark, src, n_files=5)
    src.build_bloom_index("t", ["key"])
    dst = CommitLogTableStore(spark, str(tmp_path / "b"), "main")
    dst.clone_table("t", "c", source_store=src)
    man = dst._read_manifest("c", 1)
    assert man["bloom_index"]["base"] == src.table_path("t")
    key = _key_of(spark, 1234)
    plan = dst.plan_scan("c", [("key", "=", key)])
    assert plan["files_selected"] <= 2 < plan["files_total"]
    got = dst.read_where("c", [("key", "=", key)]).collect()
    assert len(got) == 1 and got[0]["id"] == 1234
    cov = dst.bloom_coverage("c")
    assert cov["files_uncovered"] == 0 and cov["files_covered"] == 5
    # the clone's own rebuild writes LOCALLY and drops the foreign base
    dst.write_append(_batch(spark, 9000, 9500), "c")
    dst.build_bloom_index("c", ["key"], only_missing=True)
    man2 = dst._read_manifest("c", dst.latest_version("c"))
    assert "base" not in man2["bloom_index"]
    assert dst.plan_scan("c", [("key", "=", "nope")])["files_selected"] == 0


def test_oversize_index_probes_relationally(spark, store):
    """An index bigger than the driver cache cap is NEVER collected:
    plan_scan runs the membership test as a Spark job and only
    surviving keys cross back — pruning and exactness unchanged."""
    _seed(spark, store, n_files=6)
    store.build_bloom_index("t", ["key"])
    store._BLOOM_CACHE_MAX_BYTES = 16  # instance override: force oversize
    key = _key_of(spark, 1234)
    plan = store.plan_scan("t", [("key", "=", key)])
    assert plan["files_selected"] <= 2 < plan["files_total"]
    ref = store._read_manifest("t", store.latest_version("t"))[
        "bloom_index"
    ]["ref"]
    assert ("t", ref) in store._bloom_oversize
    assert not store._bloom_cache, "oversize index must never be cached"
    got = store.read_where("t", [("key", "=", key)]).collect()
    assert len(got) == 1 and got[0]["id"] == 1234
    assert plan["files_bloom_uncovered"] == 0
    # absent key: everything covered prunes, nothing survives
    assert store.plan_scan("t", [("key", "=", "nope")])["files_selected"] == 0
    # zone maps prune every file: no probe job, no uncovered count
    p, jobs = _jobs(
        spark,
        lambda: store.plan_scan("t", [("key", "=", key), ("id", ">", 10**9)]),
    )
    assert jobs == 0 and p["files_selected"] == 0
    assert "files_bloom_uncovered" not in p


@pytest.mark.slow
def test_distributed_build_no_driver_file_list(spark, tmp_path, monkeypatch):
    """Sidecar-backed snapshots BUILD through the relational path (a
    zero-entry-action delta commit) and the result is byte-equivalent
    to a driver-venue build."""
    monkeypatch.setattr(mf, "PARQUET_CHECKPOINT_MIN_ENTRIES", 1)
    st = CommitLogTableStore(spark, str(tmp_path / "wh"), "main")
    _seed(spark, st, n_files=4, per=300)
    st.DISTRIBUTED_MANIFEST_MIN_BYTES = 0
    v_before = st.latest_version("t")
    st._invalidate_manifests("t")  # latest_version materialized it
    r = st.build_bloom_index("t", ["key"])
    assert r["files_indexed"] == 4 and r["version"] == v_before + 1
    # the commit is a delta with zero entry actions
    raw = st._read_commit_json("t", r["version"])
    assert raw["base"] == v_before and not raw["add_entries"]
    assert raw["bloom_index"]["columns"] == ["key"]
    key = _key_of(spark, 700)
    plan = st.plan_scan("t", [("key", "=", key)])
    assert plan.get("distributed") is True
    assert plan["files_selected"] < 4
    assert plan["files_bloom_uncovered"] == 0
    got = st.read_where("t", [("key", "=", key)]).collect()
    assert len(got) == 1 and got[0]["id"] == 700
    # incremental re-cover through the same venue
    st.write_append(_batch(spark, 5000, 5300), "t")
    st._invalidate_manifests("t")
    r2 = st.build_bloom_index("t", ["key"], only_missing=True)
    assert r2["files_indexed"] == 1
    assert st.plan_scan("t", [("key", "=", "nope")])["files_selected"] == 0


def test_sharded_index_output(spark, store):
    """Above the shard byte target the index parquet splits into
    multiple parts; probing is unchanged."""
    store._BLOOM_SHARD_TARGET_BYTES = 512  # force multi-part output
    _seed(spark, store, n_files=4)
    store.build_bloom_index("t", ["key"])
    ref = store._read_manifest("t", store.latest_version("t"))[
        "bloom_index"
    ]["ref"]
    parts = [
        n
        for n, _sz in store.io.list_files(
            f"{store.table_path('t')}/{ref}"
        )
        if n.endswith(".parquet")
    ]
    assert len(parts) > 1
    key = _key_of(spark, 42)
    assert store.plan_scan("t", [("key", "=", key)])["files_selected"] <= 2
    assert store.read_where("t", [("key", "=", key)]).count() == 1


def test_coverage_watermark_and_refresh(spark, store):
    """Compaction rewrites files out from under their bloom rows:
    coverage DECAYS and is REPORTED (bloom_coverage + plan_scan);
    refresh_bloom=True re-covers in the same maintenance call."""
    _seed(spark, store, n_files=3)
    store.build_bloom_index("t", ["key"])
    assert store.bloom_coverage("t")["files_uncovered"] == 0
    store.compact("t")
    cov = store.bloom_coverage("t")
    assert cov["files_covered"] == 0 and cov["files_uncovered"] > 0
    key = _key_of(spark, 77)
    plan = store.plan_scan("t", [("key", "=", key)])
    assert plan["files_bloom_uncovered"] == plan["files_total"]
    assert store.read_where("t", [("key", "=", key)]).count() == 1  # exact
    store.compact("t", refresh_bloom=True)
    cov2 = store.bloom_coverage("t")
    assert cov2["files_uncovered"] == 0 and cov2["files_covered"] > 0
    assert store.plan_scan("t", [("key", "=", "nope")])["files_selected"] == 0
    assert store.read_where("t", [("key", "=", key)]).count() == 1


def test_coverage_cold_call_leaves_bloom_cache_alone(spark, store):
    """A cold bloom_coverage (monitoring call) must fold from a
    key-only read: it must NOT load the bits payload into (or evict
    entries from) the shared _bloom_cache plan_scan relies on
    (ADVICE r14), and it must agree with the cached-map fold."""
    _seed(spark, store, n_files=3)
    store.build_bloom_index("t", ["key"])
    store._bloom_cache.clear()
    store._bloom_cache_bytes = 0
    cov = store.bloom_coverage("t")
    assert cov["files_uncovered"] == 0 and cov["files_covered"] > 0
    assert store._bloom_cache == {}  # cold call stayed key-only
    # warm the cache through the probe path; coverage now reuses it
    key = _key_of(spark, 7)
    store.plan_scan("t", [("key", "=", key)])
    assert store._bloom_cache  # probe loaded the map
    assert store.bloom_coverage("t") == cov


def test_bloom_maintenance_survives_aborted_txn_head(spark, store):
    """Regression (ADVICE r10): build_bloom_index / bloom_coverage
    planned from the RAW head version — an in-flight or aborted
    multi-table-txn prepare at the head (a normal state after any
    abort) made bloom maintenance raise until an unrelated commit
    landed above the dead slot. Both must plan from the newest
    VISIBLE snapshot instead."""
    _seed(spark, store, n_files=3)
    store.build_bloom_index("t", ["key"])
    store.TXN_RESOLVE_GRACE_S = 0.2
    t = store.begin_txn()
    t.write_append(_batch(spark, 9000, 9100), "t")
    t.prepare()  # head slot now holds an undecided prepare
    cov = store.bloom_coverage("t")
    assert cov["files_covered"] == cov["files_total"]
    t.abort()  # head slot now holds an ABORTED prepare
    cov = store.bloom_coverage("t")
    assert cov["files_covered"] == cov["files_total"] > 0
    r = store.build_bloom_index("t", ["key"], only_missing=True)
    assert r["files_indexed"] == 0  # everything visible already covered
