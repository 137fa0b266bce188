"""Persisted inverted text index (``operators/search.py``): exact BM25
parity with the full-scan scorer, token-pruned probes, atomic
exactly-once appends, and the coverage/refresh lifecycle.

The reference's only keyword surface is warehouse-delegated SQL
(``airbyte/datasets/_sql.py``); the index makes search probe cost
O(touched postings) instead of O(corpus).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyairbyte_spark.operators.search import (
    append_to_text_index,
    build_text_index,
    refresh_text_index,
    text_index_coverage,
    text_index_search,
)
from pyairbyte_spark.operators.text import bm25_scores
from pyairbyte_spark.writers import CommitLogTableStore

TERMS = ["spark", "data", "join"]


@pytest.fixture()
def store(spark, tmp_path):
    return CommitLogTableStore(spark, str(tmp_path / "wh"), "main")


def _docs(spark):
    rows = [
        (1, "spark joins data with spark sql"),
        (2, "window functions over data streams"),
        (3, "join join join"),
        (4, "nothing relevant here at all"),
        (5, ""),  # token-less doc: counts in N, no postings
        (6, "spark data spark data spark"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _scores(df):
    return sorted(map(tuple, df.collect()))


def test_index_probe_equals_full_scan(spark, store):
    docs = _docs(spark)
    info = build_text_index(docs, store, "ti", target_files=4)
    assert info["n_docs"] == 6
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(docs, TERMS)
    )
    # top-k ordering surface
    top = text_index_search(store, "ti", TERMS, limit=2).collect()
    assert len(top) == 2
    assert top[0]["bm25"] >= top[1]["bm25"]


def test_index_probe_is_file_pruned(spark, store):
    docs = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("tok"),
            (F.col("id") % 997).cast("string"),
            F.lit(" filler words here"),
        ).alias("text"),
    )
    build_text_index(docs, store, "ti", target_files=16)
    plan = store.plan_scan("ti_postings", [("token", "in", ["tok5"])])
    assert plan["files_selected"] < plan["files_total"]
    hits = text_index_search(store, "ti", ["tok5"]).collect()
    assert {r["doc_id"] for r in hits} == {5, 1002, 1999, 2996, 3993}


def test_append_atomic_and_exactly_once(spark, store):
    docs = _docs(spark)
    build_text_index(docs, store, "ti", target_files=4)
    extra = spark.createDataFrame(
        [(7, "spark spark join")], "doc_id long, text string"
    )
    v_post = store.latest_version("ti_postings")
    v_stat = store.latest_version("ti_stats")
    r = append_to_text_index(extra, store, "ti", txn=("app", 1))
    assert r == {"appended": 1, "skipped": False}
    # BOTH tables moved together (one txn group)
    assert store.latest_version("ti_postings") > v_post
    assert store.latest_version("ti_stats") > v_stat
    # replay: neither moves
    v_post2 = store.latest_version("ti_postings")
    r2 = append_to_text_index(extra, store, "ti", txn=("app", 1))
    assert r2["skipped"] is True
    assert store.latest_version("ti_postings") == v_post2
    # scores equal a fresh full scan over the grown corpus (N, avgdl,
    # df all pick up the append through the mergeable stats rows)
    grown = docs.unionByName(extra)
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(grown, TERMS)
    )


def test_coverage_decay_and_tail_refresh(spark, store):
    docs = _docs(spark)
    build_text_index(docs, store, "ti", target_files=4)
    assert text_index_coverage(store, "ti")["coverage"] == 1.0
    # clear write-time clustering to exercise the legacy decay/refresh
    # lifecycle (builds now set it, keeping coverage at 1.0 on ingest)
    store.set_cluster_by("ti_postings", None)
    append_to_text_index(
        spark.createDataFrame(
            [(8, "spark appended")], "doc_id long, text string"
        ),
        store,
        "ti",
    )
    cov = text_index_coverage(store, "ti")
    assert cov["files_unclustered"] >= 1 and cov["coverage"] < 1.0
    r = refresh_text_index(store, "ti")
    assert r["refreshed"] is True and r["coverage"] == 1.0
    # refresh is a no-op when already clustered
    assert refresh_text_index(store, "ti")["refreshed"] is False
    # rows survived the relayout
    assert (
        text_index_search(store, "ti", ["appended"]).collect()[0]["doc_id"]
        == 8
    )


def test_search_tool_surface(spark, tmp_path):
    from pyairbyte_spark import tools
    from pyairbyte_spark.cache import SparkCache

    cache = SparkCache(
        spark, str(tmp_path / "swh"), table_format="commitlog"
    )
    cache.write_dataframe(_docs(spark), "docs")
    # no index: exact full-scan fallback
    hits = tools.search_documents(cache, "docs", "spark data", k=3)
    assert hits and hits[0]["doc_id"] == 6
    info = tools.build_search_index(cache, "docs")
    assert info["n_docs"] == 6
    hits2 = tools.search_documents(cache, "docs", "spark data", k=3)
    assert [
        (h["doc_id"], h["bm25"]) for h in hits2
    ] == [(h["doc_id"], h["bm25"]) for h in hits]


# -- CDF-driven transactional maintenance --------------------------------------


def _book(df):
    return df.withColumn(
        "_airbyte_raw_id", F.concat(F.lit("r"), F.col("doc_id").cast("string"))
    ).withColumn(
        "_airbyte_extracted_at", F.lit("2024-01-01").cast("timestamp")
    )


def test_sync_tracks_table_dml(spark, store):
    from pyairbyte_spark.operators.search import (
        attach_text_index,
        sync_text_index,
    )

    store.write_append(_book(_docs(spark)), "docs", ["doc_id"])
    attach_text_index(store, "docs", "ti", target_files=4)
    # delete, update (incl. token-less -> tokened churn), insert
    store.merge_into(
        "docs",
        spark.createDataFrame([(3,)], "doc_id long"),
        ["doc_id"],
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    store.merge_into(
        "docs",
        spark.createDataFrame(
            [
                (6, "totally different now"),
                (5, "was empty now spark"),
                (7, "fresh spark data doc"),
                (8, ""),
            ],
            "doc_id long, text string",
        ),
        ["doc_id"],
        when_matched_update={"text": "s.text"},
    )
    r = sync_text_index(store, "ti")
    assert r["docs_changed"] == 7 and r["synced_to"] > r["synced_from"]
    cur = store.read("docs").select("doc_id", "text")
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(cur, TERMS)
    )
    # no-op when caught up; second churn round still exact
    assert sync_text_index(store, "ti")["docs_changed"] == 0
    store.merge_into(
        "docs",
        spark.createDataFrame([(6,)], "doc_id long"),
        ["doc_id"],
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    sync_text_index(store, "ti")
    cur2 = store.read("docs").select("doc_id", "text")
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(cur2, TERMS)
    )


def test_sync_moves_all_three_tables_atomically(spark, store):
    from pyairbyte_spark.operators.search import (
        attach_text_index,
        sync_text_index,
    )

    store.write_append(_book(_docs(spark)), "docs", ["doc_id"])
    attach_text_index(store, "docs", "ti")
    vers = {
        t: store.latest_version(f"ti_{t}")
        for t in ("postings", "stats", "meta")
    }
    store.merge_into(
        "docs",
        spark.createDataFrame([(1,)], "doc_id long"),
        ["doc_id"],
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    sync_text_index(store, "ti")
    for t in ("postings", "stats", "meta"):
        assert store.latest_version(f"ti_{t}") > vers[t], t


def test_sync_race_loser_aborts_cleanly(spark, store):
    import threading

    from pyairbyte_spark.operators.search import (
        attach_text_index,
        sync_text_index,
        text_index_search,
    )

    store.write_append(_book(_docs(spark)), "docs", ["doc_id"])
    attach_text_index(store, "docs", "ti")
    store.merge_into(
        "docs",
        spark.createDataFrame(
            [(7, "fresh spark data doc")], "doc_id long, text string"
        ),
        ["doc_id"],
        when_matched_update={"text": "s.text"},
    )
    results = []

    def run():
        results.append(sync_text_index(store, "ti"))

    ts = [threading.Thread(target=run) for _ in range(2)]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    applied = [r for r in results if r["docs_changed"]]
    # exactly one sync applied the window; the other raced or no-opped
    assert len(applied) == 1, results
    cur = store.read("docs").select("doc_id", "text")
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(cur, TERMS)
    )


def test_sync_rebuilds_through_unsafe_collapse(spark, store):
    from pyairbyte_spark.operators.search import (
        attach_text_index,
        sync_text_index,
        text_index_search,
    )

    docs = _book(_docs(spark)).withColumn("lang", F.lit("en"))
    store.write_append(docs, "docs", ["doc_id"])
    attach_text_index(store, "docs", "ti")
    store.write_append(
        _book(
            spark.createDataFrame(
                [(9, "extra spark doc")], "doc_id long, text string"
            )
        ).withColumn("lang", F.lit("en")),
        "docs",
        ["doc_id"],
    )
    # a rename inside the window makes per-key collapse unsafe
    store.rename_column("docs", "lang", "language")
    r = sync_text_index(store, "ti")
    assert r.get("rebuilt") is True
    cur = store.read("docs").select("doc_id", "text")
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(cur, TERMS)
    )


def test_text_index_streaming_sink_exactly_once(spark, store, tmp_path):
    from pyairbyte_spark.streaming.sink import TextIndexStreamingSink

    docs = _docs(spark)
    build_text_index(docs.filter(F.col("doc_id") <= 3), store, "ti")
    src = tmp_path / "src"
    src.mkdir()
    docs.filter(F.col("doc_id") > 3).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "b0"))
    sink = TextIndexStreamingSink(store, "ti", "pipe")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src) + "/*"
    )
    q = sink.attach(
        stream, checkpoint_dir=str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(120)
    assert sink.appended_epochs == 1
    # stream-maintained == full-scan over the whole corpus
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(docs, TERMS)
    )
    # manual epoch redelivery: both tables stay put
    vp = store.latest_version("ti_postings")
    vs = store.latest_version("ti_stats")
    sink(docs.filter(F.col("doc_id") > 3), 0)
    assert sink.skipped_epochs == 1
    assert store.latest_version("ti_postings") == vp
    assert store.latest_version("ti_stats") == vs


def test_sync_tools_roundtrip(spark, tmp_path):
    from pyairbyte_spark import tools
    from pyairbyte_spark.cache import SparkCache

    cache = SparkCache(
        spark, str(tmp_path / "stw"), table_format="commitlog"
    )
    cache.write_dataframe(_docs(spark), "docs", primary_keys=["doc_id"])
    tools.build_search_index(cache, "docs")
    tools.build_dedup_index(cache, "docs")
    # DML on the stream's table, then both indexes catch up atomically
    cache.store.merge_into(
        cache.table_name("docs"),
        spark.createDataFrame([(6,)], "doc_id long"),
        ["doc_id"],
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    r1 = tools.sync_search_index(cache)
    r2 = tools.sync_dedup_index(cache)
    assert r1["docs_changed"] == 1 and r2["docs_changed"] == 1
    hits = tools.search_documents(cache, "docs", "spark data", k=3)
    assert all(h["doc_id"] != 6 for h in hits)
    dups = tools.find_near_duplicates(
        cache, "docs", "spark data spark data spark", min_agree=0
    )
    assert all(d["match_id"] != 6 for d in dups)


def test_fold_clears_tombstone_debt(spark, store):
    from pyairbyte_spark.operators.search import (
        attach_text_index,
        fold_text_index,
        sync_text_index,
        text_index_health,
    )

    store.write_append(_book(_docs(spark)), "docs", ["doc_id"])
    attach_text_index(store, "docs", "ti", target_files=2)
    # churn half the corpus: tombstones accumulate
    store.merge_into(
        "docs",
        spark.createDataFrame(
            [(1, "rewritten spark text"), (6, "rewritten data text")],
            "doc_id long, text string",
        ),
        ["doc_id"],
        when_matched_update={"text": "s.text"},
    )
    sync_text_index(store, "ti")
    h0 = text_index_health(store, "ti", tombstone_max=0.05)
    assert h0["tombstone_fraction"] > 0.05 and not h0["healthy"]
    before = _scores(text_index_search(store, "ti", TERMS))
    r = fold_text_index(store, "ti")
    assert r["folded"] is True
    h1 = text_index_health(store, "ti", tombstone_max=0.05)
    assert h1["tombstone_fraction"] == 0.0 and h1["coverage"] == 1.0
    # scores identical pre/post fold (pure debt removal)
    assert _scores(text_index_search(store, "ti", TERMS)) == before
    # ...and later syncs keep working against the folded state
    store.merge_into(
        "docs",
        spark.createDataFrame([(2,)], "doc_id long"),
        ["doc_id"],
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    sync_text_index(store, "ti")
    cur = store.read("docs").select("doc_id", "text")
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(cur, TERMS)
    )


# -- round-12: O(diff) sync, vacuumed-window rebuild ----------------------------


def test_sync_never_scans_the_index(spark, store, monkeypatch):
    """Plan gate for the O(diff) sync: retraction tombstones derive
    from the SOURCE's old snapshot, so the sync reads the postings
    table ZERO times — the previous derivation scanned the whole
    (token-clustered, id-unprunable) postings table per sync, an
    O(index) cost however small the diff."""
    from pyairbyte_spark.operators.search import (
        attach_text_index,
        sync_text_index,
    )

    store.write_append(_book(_docs(spark)), "docs", ["doc_id"])
    attach_text_index(store, "docs", "ti", target_files=4)
    store.merge_into(
        "docs",
        spark.createDataFrame([(1,)], "doc_id long"),
        ["doc_id"],
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    # Poison the postings DATA path: schema stays readable (append
    # staging inspects columns), but evaluating any postings row
    # throws — the old derivation scanned the whole table and would
    # crash here; the O(diff) sync must complete untouched.
    orig_read, orig_rw = store.read, store.read_where

    def poison(df):
        return df.filter(F.assert_true(F.lit(False)).isNull())

    monkeypatch.setattr(
        store,
        "read",
        lambda t, **k: (
            poison(orig_read(t, **k))
            if t == "ti_postings"
            else orig_read(t, **k)
        ),
    )
    monkeypatch.setattr(
        store,
        "read_where",
        lambda t, *a, **k: (
            poison(orig_rw(t, *a, **k))
            if t == "ti_postings"
            else orig_rw(t, *a, **k)
        ),
    )
    r = sync_text_index(store, "ti")
    assert r["docs_changed"] == 1
    monkeypatch.setattr(store, "read", orig_read)
    monkeypatch.setattr(store, "read_where", orig_rw)
    cur = store.read("docs").select("doc_id", "text")
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(cur, TERMS)
    )


def test_sync_derives_retractions_from_diff_preimages(
    spark, tmp_path, monkeypatch
):
    """r13: retraction tombstones ride the diff itself (delete rows +
    update_preimage rows) — the sync NEVER re-reads the cursor
    snapshot, and on a bucketed table the entry-pruned diff never
    touches unchanged dirs. Poison read_version for the source
    entirely: the sync must still land and stay exact."""
    from pyairbyte_spark.operators.search import (
        attach_text_index,
        sync_text_index,
    )
    from pyairbyte_spark.writers import CommitLogTableStore

    store = CommitLogTableStore(
        spark, str(tmp_path / "whb"), "main", merge_buckets=8
    )
    store.write_append(_book(_docs(spark)), "docs", ["doc_id"])
    attach_text_index(store, "docs", "ti")
    store.merge_into(
        "docs",
        spark.createDataFrame(
            [(1, "replaced text entirely"), (6, "")],
            "doc_id long, text string",
        ),
        ["doc_id"],
        when_matched_update={"text": "s.text"},
    )
    monkeypatch.setattr(
        store,
        "read_version",
        lambda tbl, v, **kw: (_ for _ in ()).throw(
            AssertionError(f"sync re-read snapshot {tbl}@{v}")
        ),
    )
    r = sync_text_index(store, "ti")
    # 2 updates: each counts as one retraction + one insertion
    assert r["docs_changed"] == 4
    monkeypatch.undo()
    cur_docs = store.read("docs").select("doc_id", "text")
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(cur_docs, TERMS)
    )


def test_sync_rebuilds_when_window_vacuumed(spark, store):
    """An outage longer than the retention window: the cursor version
    is gone, per-key collapse is impossible — sync rebuilds from the
    current snapshot instead of crashing."""
    from pyairbyte_spark.operators.search import (
        attach_text_index,
        sync_text_index,
    )

    store.write_append(_book(_docs(spark)), "docs", ["doc_id"])
    attach_text_index(store, "docs", "ti")
    store.merge_into(
        "docs",
        spark.createDataFrame(
            [(7, "fresh spark data doc")], "doc_id long, text string"
        ),
        ["doc_id"],
    )
    store.vacuum("docs", keep_commits=1)
    r = sync_text_index(store, "ti")
    assert r.get("rebuilt") is True
    cur = store.read("docs").select("doc_id", "text")
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(cur, TERMS)
    )


def test_build_sets_write_time_clustering(spark, store):
    """Round-12 gate: builds set cluster_by on their postings table, so
    ingest-time appends range-sort at staging and the coverage
    watermark never decays — refresh is a no-op in the common case."""
    build_text_index(_docs(spark), store, "ti", target_files=4)
    append_to_text_index(
        spark.createDataFrame(
            [(8, "spark appended"), (9, "more spark data here")],
            "doc_id long, text string",
        ),
        store,
        "ti",
    )
    cov = text_index_coverage(store, "ti")
    assert cov["coverage"] == 1.0 and cov["files_unclustered"] == 0
    assert refresh_text_index(store, "ti")["refreshed"] is False
    assert (
        text_index_search(store, "ti", ["appended"]).collect()[0]["doc_id"]
        == 8
    )


def test_fold_retries_catch_up_incrementally(spark, store, monkeypatch):
    """Round-12 gate: a fold losing its guarded commit no longer
    recomputes the O(index) net state — it folds ONLY the rows
    appended since (read_changes over the materialized net), so a fold
    under steady sync/append pressure still lands."""
    import pyairbyte_spark.operators.search as search_mod
    from pyairbyte_spark.operators.search import (
        attach_text_index,
        fold_text_index,
        sync_text_index,
    )

    store.write_append(_book(_docs(spark)), "docs", ["doc_id"])
    attach_text_index(store, "docs", "ti", target_files=4)
    store.merge_into(
        "docs",
        spark.createDataFrame([(1,)], "doc_id long"),
        ["doc_id"],
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    sync_text_index(store, "ti")  # tombstone debt to fold
    real_guard = search_mod._guarded_index_replace
    state = {"n": 0}
    extra = [
        spark.createDataFrame(
            [(30, "late spark doc one")], "doc_id long, text string"
        ),
        spark.createDataFrame(
            [(31, "late data doc two")], "doc_id long, text string"
        ),
    ]

    def flaky(store_, writes):
        state["n"] += 1
        if state["n"] <= 2:
            # an append lands between the fold's computation and its
            # commit — the guard sees the interleaver and aborts
            # (allow_oob: this test deliberately writes out of band)
            append_to_text_index(
                extra[state["n"] - 1], store_, "ti", allow_oob=True
            )
        return real_guard(store_, writes)

    monkeypatch.setattr(search_mod, "_guarded_index_replace", flaky)
    rc_calls: list[str] = []
    orig_rc = store.read_changes
    monkeypatch.setattr(
        store,
        "read_changes",
        lambda t, *a, **k: (rc_calls.append(t), orig_rc(t, *a, **k))[1],
    )
    r = fold_text_index(store, "ti")
    assert r["folded"] is True and state["n"] == 3
    assert "ti_postings" in rc_calls  # O(delta) catch-up ran
    # net state exact: zero retraction rows; scores equal a full scan
    # over the corpus as the index now covers it
    assert store.read("ti_postings").filter(F.col("sign") < 0).count() == 0
    docs_now = store.read("docs").select("doc_id", "text")
    grown = docs_now.unionByName(extra[0]).unionByName(extra[1])
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(grown, TERMS)
    )


# -- round-12: branch-attached indexes (WAP-aware sync) -------------------------


def test_index_follows_branch_and_survives_publish(spark, store):
    from pyairbyte_spark.operators.search import (
        attach_text_index,
        sync_text_index,
    )

    store.write_append(_book(_docs(spark)), "docs", ["doc_id"])
    store.create_branch("docs", "audit")
    attach_text_index(store, "docs", "ti", target_files=4, ref="audit")
    bv = store.branch("audit")
    bv.merge_into(
        "docs",
        spark.createDataFrame([(3,)], "doc_id long"),
        ["doc_id"],
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    bv.merge_into(
        "docs",
        spark.createDataFrame(
            [(7, "fresh spark data doc")], "doc_id long, text string"
        ),
        ["doc_id"],
    )
    r = sync_text_index(store, "ti")
    assert r["docs_changed"] == 2 and r["synced_to"] > r["synced_from"]
    # the index reflects the BRANCH state, not main's
    branch_docs = bv.read("docs").select("doc_id", "text")
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(branch_docs, TERMS)
    )
    # publish: the next sync re-homes the index onto main (the publish
    # manifest IS the audited tip — zero spurious diff) and clears ref
    store.publish_branch("docs", "audit")
    r2 = sync_text_index(store, "ti")
    assert r2["synced_to"] == store.latest_version("docs")
    assert r2.get("docs_changed") == 0
    m = store.read("ti_meta").collect()[0].asDict()
    assert m["source_ref"] is None and m["source_ref_id"] is None
    # post-publish main DML keeps flowing through the ordinary sync
    store.merge_into(
        "docs",
        spark.createDataFrame([(1,)], "doc_id long"),
        ["doc_id"],
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    sync_text_index(store, "ti")
    cur = store.read("docs").select("doc_id", "text")
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(cur, TERMS)
    )


def test_branch_index_dropped_without_publish_raises(spark, store):
    from pyairbyte_spark.operators.search import (
        attach_text_index,
        sync_text_index,
    )

    store.write_append(_book(_docs(spark)), "docs", ["doc_id"])
    store.create_branch("docs", "audit")
    attach_text_index(store, "docs", "ti", ref="audit")
    store.drop_branch("docs", "audit")
    with pytest.raises(ValueError, match="re-attach"):
        sync_text_index(store, "ti")
    # a NEW incarnation of the same name is a different lineage too
    store.create_branch("docs", "audit")
    with pytest.raises(ValueError, match="re-attach"):
        sync_text_index(store, "ti")


def test_branch_index_sync_races_publish(spark, store):
    """Syncs racing the publish: every outcome is applied-whole or
    cleanly raced; follow-up syncs converge the index onto main."""
    import threading

    from pyairbyte_spark.operators.search import (
        attach_text_index,
        sync_text_index,
    )

    store.write_append(_book(_docs(spark)), "docs", ["doc_id"])
    store.create_branch("docs", "audit")
    attach_text_index(store, "docs", "ti", ref="audit")
    bv = store.branch("audit")
    bv.merge_into(
        "docs",
        spark.createDataFrame(
            [(7, "fresh spark data doc"), (8, "late spark join words")],
            "doc_id long, text string",
        ),
        ["doc_id"],
    )
    results: list = []

    def syncer():
        try:
            results.append(sync_text_index(store, "ti"))
        except Exception as e:  # noqa: BLE001
            results.append(e)

    ts = [threading.Thread(target=syncer) for _ in range(2)]
    for th in ts:
        th.start()
    store.publish_branch("docs", "audit")
    for th in ts:
        th.join()
    assert all(isinstance(r, dict) for r in results), results
    # converge (at most two more rounds: re-home + no-op)
    for _ in range(3):
        r = sync_text_index(store, "ti")
        if not r.get("raced") and r.get("docs_changed") == 0:
            break
    cur = store.read("docs").select("doc_id", "text")
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(cur, TERMS)
    )


def test_store_doctor_surfaces_index_debt(spark, store):
    """Round-12 gate: ONE store_maintenance_plan call surfaces
    sync-generated index debt (fold action), per-table plans, and the
    txn-decision backlog; folding clears the index action."""
    from pyairbyte_spark.operators.search import (
        attach_text_index,
        fold_text_index,
        sync_text_index,
    )

    store.write_append(_book(_docs(spark)), "docs", ["doc_id"])
    attach_text_index(store, "docs", "ti")
    assert store.index_inventory() == {"ti": {"kind": "text"}}
    store.merge_into(
        "docs",
        spark.createDataFrame([(1,), (3,), (6,)], "doc_id long"),
        ["doc_id"],
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    sync_text_index(store, "ti")  # retraction appends = tombstone debt
    plan = store.store_maintenance_plan(tombstone_max=0.05)
    ti = plan["indexes"]["ti"]
    assert ti["kind"] == "text"
    acts = [a["action"] for a in ti["actions"]]
    assert "fold_text_index" in acts
    assert ti["health"]["tombstone_fraction"] > 0.05
    # sync txn groups leave decision files: backlog flag trips at 0
    plan_tx = store.store_maintenance_plan(txn_decisions_max=0)
    assert plan_tx["txn_decisions"]["files"] >= 1
    assert plan_tx["txn_decisions"]["actions"][0]["action"] == (
        "vacuum_txn_decisions"
    )
    # folding clears the index action
    assert fold_text_index(store, "ti")["folded"] is True
    plan2 = store.store_maintenance_plan(tombstone_max=0.05)
    assert plan2["indexes"]["ti"]["actions"] == []
    # the MCP surface exposes the warehouse doctor
    from pyairbyte_spark.mcp_server import TOOL_DEFS

    assert "get_store_maintenance_plan" in {d.name for d in TOOL_DEFS}


def test_sync_straddling_publish_applies_exactly_once(spark, store):
    """Deterministic repro of the interleaving
    test_branch_index_sync_races_publish only hits by timing: sync B
    plans against the pre-publish branch head, sync A plans against
    the post-publish main head FROM THE SAME CURSOR, and B commits
    first. A must race out on the cursor CAS — a head-keyed watermark
    (batch = target version, monotonic check) let A through and
    re-applied B's whole window (doubled postings/stats => inflated
    BM25 scores)."""
    import threading

    from pyairbyte_spark.operators.search import (
        attach_text_index,
        sync_text_index,
    )
    from pyairbyte_spark.writers import CommitLogTableStore as _Store

    store.write_append(_book(_docs(spark)), "docs", ["doc_id"])
    store.create_branch("docs", "audit")
    attach_text_index(store, "docs", "ti", ref="audit")
    store.branch("audit").merge_into(
        "docs",
        spark.createDataFrame(
            [(7, "fresh spark data doc"), (8, "late spark join words")],
            "doc_id long, text string",
        ),
        ["doc_id"],
    )
    names = ("straddle-a", "straddle-b")
    arrived = {n: threading.Event() for n in names}
    proceed = {n: threading.Event() for n in names}
    orig = _Store.begin_txn

    def gated(self, *a, **k):
        n = threading.current_thread().name
        if n in arrived and not arrived[n].is_set():
            arrived[n].set()
            assert proceed[n].wait(timeout=180), f"{n} gate timed out"
        return orig(self, *a, **k)

    results: dict = {}

    def run(name):
        try:
            results[name] = sync_text_index(store, "ti")
        except Exception as e:  # noqa: BLE001
            results[name] = e

    _Store.begin_txn = gated
    try:
        tb = threading.Thread(
            target=run, args=("straddle-b",), name="straddle-b"
        )
        tb.start()  # plans (cur -> branch head], parks before its txn
        assert arrived["straddle-b"].wait(timeout=180)
        store.publish_branch("docs", "audit")
        ta = threading.Thread(
            target=run, args=("straddle-a",), name="straddle-a"
        )
        ta.start()  # plans (same cur -> main head], parks too
        assert arrived["straddle-a"].wait(timeout=180)
        proceed["straddle-b"].set()
        tb.join(timeout=180)
        proceed["straddle-a"].set()
        ta.join(timeout=180)
        assert not tb.is_alive() and not ta.is_alive()
    finally:
        _Store.begin_txn = orig
    b, a = results["straddle-b"], results["straddle-a"]
    assert isinstance(b, dict) and b["docs_changed"] == 2, b
    assert not b.get("raced")
    assert isinstance(a, dict) and a.get("raced") is True, a
    # converge (re-home onto main + no-op), then scores must equal a
    # from-scratch computation — the overlap applied exactly once
    for _ in range(3):
        r = sync_text_index(store, "ti")
        if not r.get("raced") and r.get("docs_changed") == 0:
            break
    cur = store.read("docs").select("doc_id", "text")
    assert _scores(text_index_search(store, "ti", TERMS)) == _scores(
        bm25_scores(cur, TERMS)
    )


def test_changeless_window_sync_runs_zero_spark_jobs(spark, store):
    """r14 orchestration-floor guard: a sync whose window is PROVABLY
    changeless (here: a compact-only window — rewrite-transparent diff
    returns the tagged empty frame) must not launch a single Spark job.
    The cursor still advances (meta replace + zero-file watermark CAS
    are driver-side LocalRows), and the probe stays exact. Before the
    tagged fast path the same tick paid ~3 jobs: the empty diff's
    eager localCheckpoint plus the families' scalar aggregates."""
    from pyairbyte_spark.operators.search import (
        attach_text_index,
        sync_text_index,
    )

    docs = _docs(spark)
    store.write_append(docs.filter(F.col("doc_id") <= 3), "docs", ["doc_id"])
    store.write_append(docs.filter(F.col("doc_id") > 3), "docs", ["doc_id"])
    attach_text_index(store, "docs", "ti")
    before = text_index_search(store, "ti", TERMS)
    before_scores = _scores(before)
    v0 = store.latest_version("docs")
    store.compact("docs", target_files=1)
    assert store.latest_version("docs") > v0, "compact must commit"

    sc = spark.sparkContext
    sc.setJobGroup("changeless-sync-guard", "zero-job sync")
    r = sync_text_index(store, "ti")
    sc.setJobGroup("post-guard", "")
    assert r["docs_changed"] == 0 and not r.get("raced"), r
    assert r["synced_to"] == store.latest_version("docs")
    jobs = sc.statusTracker().getJobIdsForGroup("changeless-sync-guard")
    assert len(jobs) == 0, f"changeless sync ran {len(jobs)} jobs"
    # cursor advanced: the next sync is the caught-up fast path
    r2 = sync_text_index(store, "ti")
    assert r2["synced_from"] == r2["synced_to"] == r["synced_to"]
    assert _scores(text_index_search(store, "ti", TERMS)) == before_scores


def test_changeless_window_minhash_sync_runs_zero_spark_jobs(spark, store):
    """Same guard for the minhash family (its plan additionally guards
    the signature frame's eager checkpoint on the tagged diff)."""
    from pyairbyte_spark.operators.dedup import (
        attach_minhash_index,
        minhash_index_matches,
        sync_minhash_index,
    )

    docs = _docs(spark)
    store.write_append(docs.filter(F.col("doc_id") <= 3), "docs", ["doc_id"])
    store.write_append(docs.filter(F.col("doc_id") > 3), "docs", ["doc_id"])
    attach_minhash_index(store, "docs", "mh", num_hashes=8, bands=4)
    q = spark.createDataFrame(
        [(100, "spark joins data with spark sql")],
        "doc_id long, text string",
    )
    before = sorted(
        map(tuple, minhash_index_matches(store, "mh", q).collect())
    )
    v0 = store.latest_version("docs")
    store.compact("docs", target_files=1)
    assert store.latest_version("docs") > v0, "compact must commit"
    sc = spark.sparkContext
    sc.setJobGroup("changeless-mh-guard", "zero-job sync")
    r = sync_minhash_index(store, "mh")
    sc.setJobGroup("post-guard", "")
    assert r["docs_changed"] == 0 and not r.get("raced"), r
    jobs = sc.statusTracker().getJobIdsForGroup("changeless-mh-guard")
    assert len(jobs) == 0, f"changeless minhash sync ran {len(jobs)} jobs"
    after = sorted(
        map(tuple, minhash_index_matches(store, "mh", q).collect())
    )
    assert after == before
