"""Persisted inverted text index: exact BM25 keyword search at probe
cost O(touched postings), not O(corpus).

The relational BM25 (`operators/text.py::bm25_scores`) rescans the
whole corpus per query batch — fine for one audit pass, wrong for a
search surface. This materializes the classic inverted index into the
commit-log store as three tables:

- ``<name>_postings`` — one row per (token, doc): ``(token, id, tf,
  dl)``, compacted ``sort_by=["token"]`` so every term occupies a
  contiguous file range and probes prune to the touched terms' files
  via the manifest zone maps (the text analogue of IVF list pruning /
  the MinHash bands table);
- ``<name>_stats`` — mergeable corpus constants, one row per
  build/append: ``(n_docs, sum_dl)`` — N and avgdl aggregate from
  O(appends) rows at probe time, so appends never rewrite stats;
- ``<name>_meta`` — tokenization + scoring parameters, so appends and
  probes are bit-compatible with the build.

Scoring reproduces ``bm25_scores`` EXACTLY (same tokenization, same
integer tf/df/dl/N, same float formula), so the probed path registers
against the same DuckDB oracle as the full-scan path.

Scale: the postings build is one tokenize + one (doc,token) groupBy
shuffle; probes are ``read_where(token IN terms)`` over the pruned
file sliver plus two O(terms) broadcasts. Ingest-time appends are
O(batch) and land unclustered (exact, unpruned) — the coverage /
tail-refresh lifecycle mirrors the MinHash index's.

Reference points: the reference exposes keyword access only as
warehouse-delegated SQL LIKE (``airbyte/datasets/_sql.py``); BM25
parity here follows Lucene's practical scoring (public docs), index
layout follows the standard IR textbook inverted file.
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyairbyte_spark.operators.arrow_text import map_text, words
from pyairbyte_spark.operators.text import tokens_expr

__all__ = [
    "append_to_text_index",
    "attach_text_index",
    "build_text_index",
    "fold_text_index",
    "refresh_text_index",
    "sync_text_index",
    "text_index_coverage",
    "text_index_health",
    "text_index_search",
]


def _postings(
    docs: DataFrame, text_col: str, id_col: str, *, sign: int = 1
) -> DataFrame:
    """(token, id, tf, dl, sign) rows — lowercased whitespace tokens,
    the same tokenization every text operator (and the oracle) uses,
    counted per doc in one ``arrow_text`` pass with no shuffle (the
    explode of ``lower`` tokens grouped by (token, id), row for row).
    Empty text is one '' token (dl=1); NULL text has no postings; both
    still count in stats. ``sign=-1`` emits TOMBSTONES: incremental
    maintenance retracts a doc's old postings by appending its postings
    negated (the IVM sign trick) — probes fold sum(sign·tf)/sum(sign·dl)
    per (token, doc), so a retract+reinsert pair nets to the new state
    with appends only (full txn-group atomicity, zero rewrites).
    ``id_col`` is a row key."""

    def emit(t):
        toks = words(t, lower=True)
        counts = Counter(toks)
        return counts.keys(), counts.values(), [len(toks)] * len(counts)

    out = map_text(
        docs,
        text_col,
        [id_col],
        [("token", pa.string()), ("tf", pa.int64()), ("dl", pa.int64())],
        lambda: emit,
    )
    return out.select(
        "token",
        F.col(id_col).alias("id"),
        "tf",
        "dl",
        F.lit(int(sign)).cast("long").alias("sign"),
    )


def _doc_stats(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One mergeable stats row: (n_docs, sum_dl) over ALL docs —
    including token-less ones, matching ``bm25_scores``' N."""
    return (
        docs.select(
            F.size(tokens_expr(text_col)).cast("long").alias("__dl")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("__dl"), F.lit(0)).cast("long").alias("sum_dl"),
        )
    )


def build_text_index(
    corpus: DataFrame,
    store,
    index_name: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    target_files: int | None = None,
    source_table: str | None = None,
    synced_version: int | None = None,
    source_ref: str | None = None,
    source_ref_id: str | None = None,
) -> dict:
    """Materialize the inverted index. One tokenize pass, one
    (token, doc) groupBy shuffle, one token-clustering compaction.
    Returns ``{"n_docs", "postings", "files"}``. ``source_table`` /
    ``synced_version`` / ``source_ref`` record provenance for
    CDF-driven maintenance — use :func:`attach_text_index` rather than
    passing them directly."""
    spark = corpus.sparkSession
    # One clustered write: postings land range-partitioned on token
    # with the sorted_by stamp AND the cluster_by property in a single
    # staged write + commit (was write → compact rewrite → property
    # commit: every byte written twice). Later appends still
    # range-sort on token at staging, so the probe-pruning coverage
    # watermark never decays — refresh_text_index stays a no-op in
    # the common case.
    from pyairbyte_spark.writers import run_concurrently

    # Postings and stats are INDEPENDENT tables, each one scan of the
    # corpus — overlap the writes (per-table commit logs commute; the
    # small stats job back-fills the postings shuffle's tail).
    run_concurrently(
        lambda: store.write_replace_clustered(
            _postings(corpus, text_col, id_col),
            f"{index_name}_postings",
            cluster_by=["token"],
            target_files=target_files,
        ),
        lambda: store.write_replace(
            _doc_stats(corpus, text_col, id_col), f"{index_name}_stats"
        ),
    )
    from pyairbyte_spark.writers import LocalRows

    # driver-resident meta row: staged without a Spark job
    meta = LocalRows(
        [
            (
                id_col,
                text_col,
                float(k1),
                float(b),
                source_table,
                synced_version,
                source_ref,
                source_ref_id,
            )
        ],
        "id_col string, text_col string, k1 double, b double, "
        "source_table string, synced_version long, "
        "source_ref string, source_ref_id string",
    )
    store.write_replace(meta, f"{index_name}_meta")
    st = store.table_stats(f"{index_name}_postings")
    srows = getattr(store, "read_rows_local", lambda t: None)(
        f"{index_name}_stats"
    )
    stats = srows[0] if srows else (
        store.read(f"{index_name}_stats").collect()[0]
    )
    return {
        "n_docs": int(stats["n_docs"]),
        "postings": st["rows"],
        "files": st["files"],
    }


def _text_index_meta(store, index_name: str) -> dict:
    # 1-row protocol table: the driver-local read answers without a
    # Spark job; any precondition miss falls back to the full read.
    rows = getattr(store, "read_rows_local", lambda t: None)(
        f"{index_name}_meta"
    )
    if rows:
        return rows[0]
    return store.read(f"{index_name}_meta").collect()[0].asDict()


def _guard_oob_append(
    store,
    index_name: str,
    m: dict,
    allow_oob: bool,
    *,
    label: str,
    sync_fn: str,
) -> "DataFrame | None":
    """Protect the sync invariant on ATTACHED indexes.

    ``sync_*_index``'s O(diff) primary path derives retraction
    tombstones from the SOURCE's old snapshot — exactly one negation
    per doc. That is only exact while every doc's index contribution
    equals its snapshot-derived contribution; an out-of-band append
    (same doc fed directly to ``append_to_*_index``) breaks it: the
    doc nets to +2, a later source delete retracts −1, and the deleted
    doc keeps matching probes. (Reference point: the state layer
    treats its recorded artifacts as the single source of truth and
    raises rather than guessing when they can't answer —
    ``airbyte/shared/state_providers.py:99-118``
    ``AirbyteStateNotFoundError``; this guard applies the same policy
    to index provenance.)

    Policy: appends to an index with a recorded ``source_table`` RAISE
    unless the caller passes ``allow_oob=True``, which durably records
    ``oob_appends=true`` in the index meta — every later sync then
    derives retractions by NETTING the index itself (exact under
    duplicates, O(index) per sync: the price of mixing channels).
    The flag persists across syncs and folds (folds net signs but keep
    doubled magnitudes) and clears only on a rebuild/attach, which
    restores the invariant from a snapshot.

    Returns the meta frame to ``write_replace`` (flag newly set), or
    None (nothing to record). Raises ValueError on a guarded append."""
    if not m.get("source_table"):
        return None
    if not allow_oob:
        raise ValueError(
            f"{label} {index_name!r} is attached to table "
            f"{m['source_table']!r} and maintained from its change "
            f"feed; an out-of-band append would make {sync_fn}'s "
            "snapshot-derived retractions under-retract (deleted docs "
            "keep matching probes). Write to the source table and "
            f"call {sync_fn}, or pass allow_oob=True to record the "
            "append and force exact (but O(index)) netted retraction "
            "derivation on every future sync."
        )
    if m.get("oob_appends"):
        return None  # already recorded: syncs are on the netted path
    return store.read(f"{index_name}_meta").withColumn(
        "oob_appends", F.lit(True)
    )


def append_to_text_index(
    new_docs: DataFrame,
    store,
    index_name: str,
    *,
    txn: "tuple[str, int] | None" = None,
    allow_oob: bool = False,
) -> dict:
    """Incremental maintenance, O(batch): postings + a stats delta row
    move as ONE multi-table txn group (a probe racing the append sees
    N/avgdl and the postings advance together; a crash between the two
    leaves neither). ``txn=(app_id, batch_id)`` rides the postings
    prepare for exactly-once streaming ingest — a replayed batch skips
    the whole group. Builds set write-time clustering on the postings
    table, so fresh postings range-sort on token at staging and stay
    probe-pruned (coverage holds at 1.0); with the property cleared
    they land unclustered — exact, just unpruned — until
    :func:`refresh_text_index` reclusters the tail.

    ATTACHED indexes (meta records a ``source_table``) refuse
    out-of-band appends unless ``allow_oob=True``, which records
    ``oob_appends`` in the meta (same txn group) and switches every
    later :func:`sync_text_index` to exact netted index-side
    retraction derivation — see :func:`_guard_oob_append`."""
    m = _text_index_meta(store, index_name)
    flag = _guard_oob_append(
        store,
        index_name,
        m,
        allow_oob,
        label="text index",
        sync_fn="sync_text_index",
    )
    post = _postings(new_docs, m["text_col"], m["id_col"])
    stats = _doc_stats(new_docs, m["text_col"], m["id_col"])
    t = store.begin_txn()
    r1 = t.write_append(post, f"{index_name}_postings", txn=txn)
    if r1.get("skipped"):
        t.abort()  # replayed batch: neither table moves
        return {"appended": 0, "skipped": True}
    t.write_append(stats, f"{index_name}_stats", txn=txn)
    if flag is not None:
        t.write_replace(flag, f"{index_name}_meta")
    t.commit()
    return {"appended": 1, "skipped": False}


def text_index_search(
    store,
    index_name: str,
    query_terms: list[str],
    *,
    limit: int | None = None,
) -> DataFrame:
    """BM25 over the index: probe ``read_where(token IN terms)`` (the
    token-clustered postings prune to the touched terms' files), derive
    per-term df from the matched postings themselves, and N/avgdl from
    the O(appends)-row stats table — numerically IDENTICAL to the
    full-scan ``bm25_scores`` (same integers into the same float
    formula). Output: ``(id_col, n_hit_terms, bm25)``, optionally
    top-``limit`` by score."""
    m = _text_index_meta(store, index_name)
    k1, b = float(m["k1"]), float(m["b"])
    terms = sorted({t.lower() for t in query_terms})
    # Fold tombstones: a retracted (token, doc) nets its tf/dl to the
    # reinserted values (or to 0 → dropped). Untouched docs have one
    # +1 row and fold to themselves.
    tf = (
        store.read_where(f"{index_name}_postings", [("token", "in", terms)])
        .groupBy("token", "id")
        .agg(
            F.sum(F.col("sign") * F.col("tf")).alias("tf"),
            F.sum(F.col("sign") * F.col("dl")).alias("dl"),
        )
        .filter(F.col("tf") > 0)
        # tf feeds the per-term df aggregate AND the scoring join —
        # materialize the pruned-scan fold once (term-sized frame)
        # instead of scanning the probed postings files twice
        # (captured plan: two identical pruned-Union subtrees).
        .localCheckpoint(eager=False)
    )
    consts = (
        store.read(f"{index_name}_stats")
        .agg(
            F.sum("n_docs").cast("long").alias("__n"),
            F.sum("sum_dl").cast("long").alias("__sumdl"),
        )
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("__df"))
    avgdl = F.col("__sumdl").cast("double") / F.col("__n").cast("double")
    idf = F.log(
        (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5) + 1.0
    )
    score = idf * (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl)
    )
    out = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(consts))
        .groupBy(F.col("id").alias(m["id_col"]))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
            F.round(F.sum(score), 6).alias("bm25"),
        )
    )
    if limit is not None:
        out = out.orderBy(F.desc("bm25"), m["id_col"]).limit(limit)
    return out


def attach_text_index(
    store,
    table_name: str,
    index_name: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    target_files: int | None = None,
    ref: str | None = None,
) -> dict:
    """Build the index FROM a store table and record the snapshot
    version it covers — :func:`sync_text_index` then maintains it from
    the table's change feed. The read and the recorded version pin the
    same snapshot (single-table reads are snapshot-consistent).

    ``ref`` attaches the index to a BRANCH of the table (write-audit-
    publish): the index follows the branch's history; after a
    ``publish_branch`` the next sync detects the publish, re-homes the
    index onto main (the publish manifest IS the branch tip, so the
    catch-up diff is exactly the post-publish main delta), and clears
    the ref. Index tables always live on main (txn groups are
    main-only) — ``store`` must be the main view."""
    if getattr(store, "_branch", None) is not None:
        raise ValueError(
            "attach from the MAIN view (pass ref=... to follow a "
            "branch); index tables live on main"
        )
    ref_id = None
    src = store
    if ref is not None:
        src = store.branch(ref)
        ref_id = src._branch_info(table_name)["id"]
    v = src.latest_version(table_name)
    return build_text_index(
        src.read_version(table_name, v),
        store,
        index_name,
        id_col=id_col,
        text_col=text_col,
        k1=k1,
        b=b,
        target_files=target_files,
        source_table=table_name,
        synced_version=v,
        source_ref=ref,
        source_ref_id=ref_id,
    )


class _LineageVacuumed(Exception):
    """A branch-attached index's publish lineage is UNPROVABLE: the
    recorded branch is gone and the commit JSONs that would show (or
    rule out) a publish were vacuumed past retention. Not an error of
    the index — ``_sync_derived_index`` degrades to a rebuild from
    main's current snapshot (the same path a vacuumed cursor snapshot
    takes) instead of hard-failing every subsequent sync."""


def _resolve_sync_source(store, m: dict) -> "tuple[object, str | None]":
    """The view a sync should read its source table through: the
    recorded branch (same incarnation) while it lives, else main —
    IF the branch published (its tip became a main commit, so the
    recorded cursor stays diffable against main's head). Returns
    ``(view, ref)`` where ``ref`` is None once the index follows main
    (the caller persists the cleared ref with its cursor CAS). Raises
    ValueError when the walk PROVES the branch was dropped without
    publishing (lineage gone, only a re-attach is honest) and
    :class:`_LineageVacuumed` when vacuumed commit JSONs make the
    question unanswerable (callers rebuild instead)."""
    ref = m.get("source_ref")
    if not ref:
        return store, None
    table = m["source_table"]
    try:
        view = store.branch(ref)
        info = view._branch_info(table)
        if info.get("id") == m.get("source_ref_id"):
            return view, ref
    except (FileNotFoundError, ValueError):
        pass  # dropped (or recreated as a tag): fall through
    # Same-named branch of a NEW incarnation also lands here: the
    # recorded incarnation is dead either way.
    cur = int(m["synced_version"])
    head = store.latest_version(table)
    vacuumed = False
    for v in range(max(cur, 0) + 1, head + 1):
        try:
            hdr = store._read_commit_json(table, v)
        except FileNotFoundError:
            vacuumed = True  # the publish record could have lived here
            continue
        if (
            hdr.get("branch") is None
            and hdr.get("op") == "publish_branch"
            and hdr.get("published_branch") == ref
            and int(hdr.get("published_version") or 0) >= cur
        ):
            return store, None  # published: re-home onto main
    if vacuumed:
        raise _LineageVacuumed(ref)
    raise ValueError(
        f"index follows branch {ref!r} of {table!r}, which was dropped "
        "without publishing past the index's cursor; re-attach the index"
    )


class _SyncSpec:
    """Family plug-in for :func:`_sync_derived_index` — the four
    persisted-index families (text / MinHash / IVF / PQ) share one
    follows-source-DML sync protocol and differ only in how index rows
    are derived from source rows. Fields:

    - ``label`` / ``attach_name``: error-message strings;
    - ``read_meta(store, name) -> dict``: the index's single meta row;
    - ``payload_cols(m) -> list[str]``: the source columns (beyond the
      id) the index derives from;
    - ``rebuild(store, table, name, m, ref)``: full re-attach from the
      source's CURRENT snapshot (the unsafe-window degradation);
    - ``build_plan(ctx) -> dict``: family row derivation. ``ctx`` is a
      SimpleNamespace ``(store, spark, index_name, m, table, cur,
      head, ref, ref_id, removed, added, old_removed, oob)``; the
      return is ``{"watermark": (df, table), "appends": [(df, table),
      ...], "replaces": [(df, table), ...], "docs_changed": int}``.
      ``old_removed`` is None exactly when the family must derive
      retractions by NETTING the index itself (vacuumed cursor
      snapshot, or ``oob_appends`` recorded in meta)."""

    def __init__(
        self,
        *,
        label,
        attach_name,
        read_meta,
        payload_cols,
        rebuild,
        build_plan,
    ):
        self.label = label
        self.attach_name = attach_name
        self.read_meta = read_meta
        self.payload_cols = payload_cols
        self.rebuild = rebuild
        self.build_plan = build_plan


_NO_DIFF = object()  # cache marker: window collapse was unsafe (None)


def _sync_derived_index(
    store, index_name: str, spec: _SyncSpec, *, diff_cache: dict | None = None
) -> dict:
    """THE follows-source-DML sync protocol, shared by all four index
    families (before r13 each was a near-identical ~200-line copy; a
    protocol fix meant four edits and four chances to miss one): meta
    resolve → branch resolve → cursor short-circuit → collapsed diff →
    rebuild-on-unsafe-window → snapshot-primary / netted-index-fallback
    retraction derivation → ONE txn group with the
    SetTransaction-watermark cursor CAS → raced report. Families
    supply only row derivation (``spec.build_plan``).

    Protocol invariants, enforced here in one place:

    - the window's changes collapse to one net diff per key
      (``diff_snapshots``: O(data), not O(commits), however long the
      outage);
    - retraction tombstones derive from the SOURCE's old snapshot —
      O(changed docs) compute, ZERO index I/O (plan-gated by the
      per-family poison tests; the index's files are payload-clustered
      and unprunable by id, so deriving from the index itself would
      read the whole table per sync) — UNLESS the cursor snapshot was
      vacuumed or the meta records ``oob_appends`` (out-of-band
      appends make one-negation-per-doc under-retract: a doc appended
      twice nets +2, retracts −1, and keeps matching probes), in which
      case the family NETS the index itself (exact under duplicates,
      O(index): the price of mixing channels);
    - every index table + the cursor (meta's ``synced_version``) move
      as ONE multi-table txn group; the watermark append (app = this
      index's sync, batch = the cursor it advances FROM, +1) is the
      cursor's compare-and-swap — of N racing syncs from the same
      cursor exactly one applies, the losers see their watermark
      missing from ``prepare()``'s map, abort the whole group
      (prepares are invisible, nothing half-applies) and report
      ``{"raced": True}``. Keying the batch on the CURSOR, not the
      head, is what makes racers with DIFFERENT heads (one planned
      before a concurrent publish, one after) mutually exclusive:
      head-keyed batches let the later-head racer pass the monotonic
      watermark check and re-apply the overlap of the two windows;
    - unsafe collapse windows (rename/drop mid-window, vacuumed cursor
      diff) and unprovable branch lineage (publish record vacuumed —
      :class:`_LineageVacuumed`) rebuild from the current snapshot
      instead: correct, just not incremental.

    ``diff_cache`` (r14): a per-tick mutable dict the FOLLOWER passes
    so co-attached families share ONE diff per (table, ref, window,
    id_col) instead of four — the computed (checkpointed) diff lands
    in the cache keyed by that tuple, and later syncs at the same
    cursor reuse it. Shared diffs always carry preimages (harmless for
    oob syncs, whose change-type filters never select preimage rows
    and whose retraction derivation nets the index regardless).

    BRANCH-ATTACHED indexes (``attach_*_index(ref=...)``) sync from
    the branch's history while it lives; once the branch publishes,
    the sync re-homes onto main in the same txn group (the publish
    manifest IS the audited tip, so the catch-up diff is exactly the
    post-publish delta) and clears the recorded ref."""
    from types import SimpleNamespace

    from pyairbyte_spark.writers import ConcurrentCommitError

    m = spec.read_meta(store, index_name)
    table = m.get("source_table")
    if not table:
        raise ValueError(
            f"{spec.label} {index_name!r} was not built from a store "
            f"table; use {spec.attach_name}"
        )
    try:
        src, ref = _resolve_sync_source(store, m)
    except _LineageVacuumed:
        # Publish lineage unprovable (commit JSONs vacuumed past
        # retention): degrade to a main-snapshot rebuild rather than
        # hard-failing every subsequent sync.
        spec.rebuild(store, table, index_name, m, None)
        return {
            "synced_from": int(m["synced_version"]),
            "synced_to": store.latest_version(table),
            "docs_changed": None,
            "rebuilt": True,
        }
    ref_id = src._branch_info(table)["id"] if ref else None
    cur = int(m["synced_version"])
    head = src.latest_version(table)
    if head <= cur and ref == m.get("source_ref"):
        return {"synced_from": cur, "synced_to": cur, "docs_changed": 0}
    id_col = m["id_col"]
    payload = spec.payload_cols(m)
    oob = bool(m.get("oob_appends"))
    cache_key = (table, ref, ref_id, cur, head, id_col)
    cached = diff_cache.get(cache_key) if diff_cache is not None else None
    try:
        if cached is not None:
            diff = None if cached is _NO_DIFF else cached
        else:
            diff = src.diff_snapshots(
                table,
                cur,
                head,
                primary_keys=[id_col],
                any_ref=True,
                # PRIMARY retraction derivation rides the diff itself:
                # delete rows already carry old values, and preimages
                # add the updated docs' old rows — zero reads beyond
                # the (entry-pruned) diff, so the whole sync is
                # O(changed dirs). Recorded oob_appends forces the
                # netted index-side derivation instead (one negation
                # per doc under-retracts a doc appended out of band),
                # so preimages are skipped — EXCEPT under a shared
                # cache, whose one diff must serve oob and non-oob
                # siblings alike.
                include_preimages=not oob or diff_cache is not None,
            )
            if diff is not None and not getattr(
                diff, "_sg_provably_empty", False
            ):
                # several passes below (and sibling syncs under a
                # shared cache): don't re-diff. A PROVABLY-EMPTY diff
                # (rewrite-only / post-publish window) skips the
                # checkpoint: materializing a zero-row frame still
                # costs a scheduler round-trip, and every downstream
                # scalar pass short-circuits on the tag instead.
                diff = diff.localCheckpoint()
    except FileNotFoundError:
        diff = None  # outage outlived retention: cursor snapshot vacuumed
    if diff_cache is not None and cached is None:
        diff_cache[cache_key] = _NO_DIFF if diff is None else diff
    if diff is None:
        # Mid-window rename/drop (collapse unsafe) or a vacuumed
        # cursor snapshot (collapse impossible) — rebuild from the
        # current snapshot (correct, just not incremental).
        spec.rebuild(store, table, index_name, m, ref)
        return {
            "synced_from": cur,
            "synced_to": src.latest_version(table),
            "docs_changed": None,
            "rebuilt": True,
        }
    removed = diff.filter(
        F.col("_change_type").isin("delete", "update_postimage")
    ).select(F.col(id_col).alias("id"))
    added = diff.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(id_col, *payload)
    old_removed = None
    if not oob:
        old_removed = diff.filter(
            F.col("_change_type").isin("delete", "update_preimage")
        ).select(id_col, *payload)
    plan = spec.build_plan(
        SimpleNamespace(
            store=store,
            spark=diff.sparkSession,
            index_name=index_name,
            m=m,
            table=table,
            cur=cur,
            head=head,
            ref=ref,
            ref_id=ref_id,
            removed=removed,
            added=added,
            old_removed=old_removed,
            oob=oob,
            diff=diff,
        )
    )
    raced = {
        "synced_from": cur,
        "synced_to": cur,
        "docs_changed": 0,
        "raced": True,
    }
    t = store.begin_txn()
    try:
        wdf, wtbl = plan["watermark"]
        if not plan["docs_changed"]:
            # Changeless window (e.g. the post-publish re-home): the
            # watermark frame is PROVABLY empty — every family derives
            # it from the netted diff — so carry the cursor CAS on a
            # zero-file entry instead of staging an empty distributed
            # write (3 Spark jobs to write nothing). Schema comes from
            # the index table's own manifest; if unavailable, keep the
            # original frame.
            wdf = _empty_watermark(store, wtbl) or wdf
        # CAS batch = cur + 1, NOT head: two racers from the same
        # cursor must exclude each other even when their heads differ
        # (a publish landing between their meta reads gives the later
        # one a larger head, which would pass a head-keyed monotonic
        # watermark and double-apply the windows' overlap). The +1
        # keeps indexes whose recorded watermark predates this scheme
        # (an old HEAD == today's cursor) from stalling on their first
        # sync after upgrade.
        r1 = t.write_append(wdf, wtbl, txn=(f"__sync_{index_name}", cur + 1))
        if r1.get("skipped"):
            t.abort()  # a racer's watermark already landed
            return raced
        for df_, tbl_ in plan.get("appends") or ():
            t.write_append(df_, tbl_)
        for df_, tbl_ in plan.get("replaces") or ():
            t.write_replace(df_, tbl_)
        prepared = t.prepare()
        if wtbl not in prepared:
            t.abort()  # a racer's watermark won: retract the group
            return raced
        t.commit()
    except ConcurrentCommitError:
        try:
            t.abort()
        except Exception:
            pass
        return raced
    return {
        "synced_from": cur,
        "synced_to": head,
        "docs_changed": plan["docs_changed"],
    }


def _empty_watermark(store, table_name: str):
    """Zero-row LocalRows with ``table_name``'s recorded schema (the
    changeless sync window's job-free cursor-CAS carrier), or None
    when the schema can't be recovered."""
    try:
        import json as _json

        from pyspark.sql.types import StructType

        from pyairbyte_spark.writers import LocalRows

        snap = store._latest_commit(table_name)
        sj = next(
            e.get("schema")
            for e in reversed(snap[1].get("entries") or [])
            if e.get("schema")
        )
        return LocalRows([], StructType.fromJson(_json.loads(sj)))
    except Exception:
        return None


def _diff_change_counts(diff) -> "tuple[int, int]":
    """``(n_removed, n_added)`` in ONE job over the (checkpointed)
    diff. Every family needs both for ``docs_changed``, and the
    previous ``removed.count() + added.count()`` pair was two extra
    Spark jobs per sync tick — the tick's orchestration floor is
    plan-count-bound, not data-bound, at small diffs. A diff tagged
    provably empty by ``diff_snapshots`` costs ZERO jobs."""
    if getattr(diff, "_sg_provably_empty", False):
        return 0, 0
    ct = F.col("_change_type")
    r = diff.agg(
        F.coalesce(
            F.sum(ct.isin("delete", "update_postimage").cast("long")),
            F.lit(0),
        ).alias("nr"),
        F.coalesce(
            F.sum(ct.isin("insert", "update_postimage").cast("long")),
            F.lit(0),
        ).alias("na"),
    ).collect()[0]
    return int(r["nr"]), int(r["na"])


def _text_rebuild(store, table, index_name, m, ref):
    attach_text_index(
        store,
        table,
        index_name,
        id_col=m["id_col"],
        text_col=m["text_col"],
        k1=float(m["k1"]),
        b=float(m["b"]),
        ref=ref,
    )


def _text_sync_plan(ctx) -> dict:
    """Text-family row derivation for :func:`_sync_derived_index`:
    retraction tombstones are the removed docs' postings negated
    (re-tokenized from the old snapshot on the primary path, netted
    sum(sign·tf) per (token, doc) on the fallback — the netted
    magnitude covers out-of-band duplicate appends); inserts/updates
    append fresh postings plus one mergeable (n_docs, sum_dl) stats
    delta row carrying the N/avgdl shift."""
    m, index_name = ctx.m, ctx.index_name
    id_col, text_col = m["id_col"], m["text_col"]
    diff_empty = getattr(ctx.diff, "_sg_provably_empty", False)
    if ctx.old_removed is not None:
        tombstones = _postings(ctx.old_removed, text_col, id_col, sign=-1)
        # every scalar the plan needs — removed/added doc counts and
        # their doc-length totals — in ONE job over the checkpointed
        # diff (this used to be three separate jobs per tick); zero
        # jobs when the diff is provably empty
        ct = F.col("_change_type")
        dl = F.size(tokens_expr(text_col)).cast("long")
        srow = None if diff_empty else ctx.diff.agg(
            F.coalesce(
                F.sum(F.when(ct.isin("delete", "update_preimage"), dl)),
                F.lit(0),
            ).alias("dl_removed"),
            F.coalesce(
                F.sum(ct.isin("delete", "update_postimage").cast("long")),
                F.lit(0),
            ).alias("n_removed"),
            F.coalesce(
                F.sum(ct.isin("insert", "update_postimage").cast("long")),
                F.lit(0),
            ).alias("n_added"),
            F.coalesce(
                F.sum(F.when(ct.isin("insert", "update_postimage"), dl)),
                F.lit(0),
            ).alias("dl_added"),
        )
        srow = None if srow is None else srow.collect()[0]
        dl_removed = 0 if srow is None else int(srow["dl_removed"])
        n_removed = 0 if srow is None else int(srow["n_removed"])
        n_added = 0 if srow is None else int(srow["n_added"])
        dl_added = 0 if srow is None else int(srow["dl_added"])
    else:
        tombstones = (
            ctx.store.read(f"{index_name}_postings")
            .join(ctx.removed, "id", "left_semi")
            .groupBy("token", "id")
            .agg(
                F.sum(F.col("sign") * F.col("tf")).alias("tf"),
                F.sum(F.col("sign") * F.col("dl")).alias("dl"),
            )
            .filter(F.col("tf") > 0)  # already-netted rows: no retract
            .select(
                "token",
                "id",
                F.col("tf"),
                F.col("dl"),
                F.lit(-1).cast("long").alias("sign"),
            )
        )
        dl_removed = 0 if diff_empty else (
            tombstones.groupBy("id").agg(F.max("dl").alias("dl")).agg(
                F.coalesce(F.sum("dl"), F.lit(0))
            )
        ).collect()[0][0]
        n_removed, n_added = _diff_change_counts(ctx.diff)
        dl_added = 0 if diff_empty else int(
            ctx.added.select(
                F.size(tokens_expr(text_col)).cast("long").alias("__dl")
            )
            .agg(F.coalesce(F.sum("__dl"), F.lit(0)))
            .collect()[0][0]
        )
    from pyairbyte_spark.writers import LocalRows

    new_posts = _postings(ctx.added, text_col, id_col)
    # driver-resident protocol rows: staged without Spark jobs
    delta = LocalRows(
        [(n_added - n_removed, int(dl_added) - int(dl_removed))],
        "n_docs long, sum_dl long",
    )
    meta = LocalRows(
        [
            (
                id_col,
                text_col,
                float(m["k1"]),
                float(m["b"]),
                ctx.table,
                ctx.head,
                ctx.ref,
                ctx.ref_id,
                ctx.oob,
            )
        ],
        "id_col string, text_col string, k1 double, b double, "
        "source_table string, synced_version long, "
        "source_ref string, source_ref_id string, oob_appends boolean",
    )
    return {
        "watermark": (
            tombstones.unionByName(new_posts),
            f"{index_name}_postings",
        ),
        # a changeless window (e.g. a compact-only catch-up) shifts
        # N/avgdl by nothing: skip the zero-delta stats append — the
        # cursor still advances via watermark + meta
        "appends": (
            [(delta, f"{index_name}_stats")]
            if n_removed or n_added
            else []
        ),
        "replaces": [(meta, f"{index_name}_meta")],
        "docs_changed": n_removed + n_added,
    }


_TEXT_SYNC_SPEC = _SyncSpec(
    label="text index",
    attach_name="attach_text_index",
    read_meta=_text_index_meta,
    payload_cols=lambda m: [m["text_col"]],
    rebuild=_text_rebuild,
    build_plan=_text_sync_plan,
)


def sync_text_index(
    store, index_name: str, *, diff_cache: dict | None = None
) -> dict:
    """Catch the index up to its source table's CURRENT snapshot from
    the change feed — the derived-index analogue of
    ``ChangeFeedFollower``, TRANSACTIONAL end to end. One
    :func:`_sync_derived_index` run with the text family's row
    derivation (:func:`_text_sync_plan`): deleted/updated docs retract
    as tombstone postings, inserted/updated docs append fresh postings
    plus one mergeable stats delta row, and postings + stats + cursor
    move as ONE txn group under the watermark CAS. Returns
    ``{"synced_from", "synced_to", "docs_changed"}`` (plus ``raced`` /
    ``rebuilt`` on those paths). ``diff_cache``: per-tick shared-diff
    dict (see :func:`_sync_derived_index`)."""
    return _sync_derived_index(
        store, index_name, _TEXT_SYNC_SPEC, diff_cache=diff_cache
    )


def _guarded_index_replace(store, writes: "list[tuple]"):
    """Replace index tables atomically WITHOUT clobbering a concurrent
    sync: replaces are position-independent (they auto-rebase), so a
    sync group committing between our fold computation and our commit
    would be silently overwritten. The guard claims the replace slots
    via a txn-group PREPARE, then inspects every RAW slot between the
    fold's base version and its own slot on EVERY written table: any
    foreign commit or non-aborted prepare in between means an
    interleaver's rows could sit BELOW one of our replaces — abort
    (retry reads fresh state). Guarding only one table would let a
    racing multi-table sync straddle the fold (its bands slot above
    ours, its sigs slot below), leaving the index tables mutually
    inconsistent. Syncs that prepare ENTIRELY after ours land above
    on every table and simply win visibility (the fold is lost,
    which is benign — it's an optimization).

    ``writes`` = [(df, table, base_version)]. Returns True when the
    group committed."""
    from pyairbyte_spark.writers import ConcurrentCommitError

    t = store.begin_txn()
    try:
        for df, table, _v0 in writes:
            t.write_replace(df, table)
        prepared = t.prepare()
        for _df, table, base in writes:
            my_slot = prepared.get(table)
            if my_slot is None:
                t.abort()
                return False
            for w in range(base + 1, my_slot):
                try:
                    hdr = store._read_commit_json(table, w)
                except FileNotFoundError:
                    continue
                gid = hdr.get("txn_group")
                if gid == t.group_id:
                    continue
                if gid is None or store._group_verdict(gid) != "abort":
                    t.abort()  # interleaver below our slot: rows at risk
                    return False
        t.commit()
        return True
    except ConcurrentCommitError:
        try:
            t.abort()
        except Exception:
            pass
        return False


def _appends_since(store, table: str, v_from: int) -> int | None:
    """The table's head version if EVERY visible commit in
    ``(v_from, head]`` is a plain append (aborted txn prepares and
    other-ref commits don't count — they were never visible here);
    None when anything else interleaved (replace/compact/undecided),
    in which case an incremental catch-up over the window would be
    wrong and the caller must recompute from scratch."""
    head = store.latest_version(table)
    for w in range(v_from + 1, head + 1):
        try:
            hdr = store._read_commit_json(table, w)
        except FileNotFoundError:
            return None  # vacuumed mid-walk
        gid = hdr.get("txn_group")
        if gid is not None:
            verdict = store._group_verdict(gid)
            if verdict == "abort":
                continue  # invisible slot
            if verdict != "commit":
                return None  # undecided: the guard would refuse anyway
        if hdr.get("branch") is not None:
            continue  # another ref's commit: invisible here
        if hdr.get("op") != "append":
            return None
    return head


def _fold_changes(store, table: str, v_from: int, v_to: int) -> DataFrame:
    """Rows appended to ``table`` in ``(v_from, v_to]`` — the O(delta)
    catch-up frame for an incremental fold retry."""
    ch = store.read_changes(table, v_from, v_to)
    return ch.filter(F.col("_change_type") == "insert").drop(
        "_change_type", "_commit_version"
    )


def _net_postings(frame: DataFrame) -> DataFrame:
    """NET state of a postings frame: sum(sign·tf)/(sign·dl) per
    (token, doc), positives only, re-signed +1."""
    return (
        frame.groupBy("token", "id")
        .agg(
            F.sum(F.col("sign") * F.col("tf")).alias("tf"),
            F.sum(F.col("sign") * F.col("dl")).alias("dl"),
        )
        .filter(F.col("tf") > 0)
        .select(
            "token", "id", "tf", "dl", F.lit(1).cast("long").alias("sign")
        )
    )


def fold_text_index(
    store, index_name: str, *, target_files: int | None = None
) -> dict:
    """Fold tombstone debt: rewrite the postings table as its NET
    state (sum(sign·tf)/(sign·dl) per (token, doc), positives only) and
    recluster on token — retraction rows accumulated by
    :func:`sync_text_index` stop taxing every probe. Concurrent syncs
    are never clobbered (see ``_guarded_index_replace``).

    The O(index) net-state frame is computed ONCE and materialized; a
    retry after a lost race folds only the rows appended since (one
    O(delta) catch-up over the materialized net — under a steady sync
    cadence the fold still lands instead of recomputing-and-losing
    forever). A non-append interleaver (another fold's replace, a
    compaction) forces a from-scratch recompute. A fold that exhausts
    its retries reports ``{"folded": False}`` — re-run from the
    maintenance cadence. Run when :func:`text_index_health` reports
    tombstone debt."""
    ptbl = f"{index_name}_postings"
    v0 = store.latest_version(ptbl)
    folded = _net_postings(store.read(ptbl)).localCheckpoint()
    for _ in range(4):
        if _guarded_index_replace(store, [(folded, ptbl, v0)]):
            store.compact(ptbl, sort_by=["token"], target_files=target_files)
            # the replace reset the write-time clustering property
            store.set_cluster_by(ptbl, ["token"])
            return {"folded": True, **text_index_coverage(store, index_name)}
        head = _appends_since(store, ptbl, v0)
        if head is None:  # replace/compact interleaved: start over
            v0 = store.latest_version(ptbl)
            folded = _net_postings(store.read(ptbl)).localCheckpoint()
        elif head > v0:  # appends only: O(delta) catch-up
            folded = _net_postings(
                folded.unionByName(_fold_changes(store, ptbl, v0, head))
            ).localCheckpoint()
            v0 = head
    return {"folded": False}


def text_index_health(
    store,
    index_name: str,
    *,
    tombstone_max: float = 0.2,
    unclustered_max: float = 0.5,
) -> dict:
    """Health signals for the inverted index: (1) TOMBSTONE DEBT — the
    fraction of postings rows that are retractions or retracted (each
    sync delete/update appends instead of rewriting; probes fold them
    out, paying per row until :func:`fold_text_index`); (2) STALE
    CLUSTERING — the unclustered-file fraction (fix =
    :func:`refresh_text_index`). One aggregate over the postings
    table + one manifest read."""
    g = (
        store.read(f"{index_name}_postings")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("sign") < 0).cast("long")).alias("neg"),
        )
        .collect()[0]
    )
    rows = int(g["rows"] or 0)
    # every -1 row cancels one +1 row: debt = 2·neg/total
    debt = (2.0 * int(g["neg"] or 0) / rows) if rows else 0.0
    cov = text_index_coverage(store, index_name)
    issues = []
    if debt > tombstone_max:
        issues.append(
            f"tombstone debt: {debt:.1%} of postings rows are dead "
            f"(> {tombstone_max:.0%}) — run fold_text_index"
        )
    if 1.0 - cov["coverage"] > unclustered_max:
        issues.append(
            f"stale clustering: {1.0 - cov['coverage']:.1%} of files "
            f"unclustered (> {unclustered_max:.0%}) — run "
            "refresh_text_index"
        )
    return {
        "rows": rows,
        "tombstone_fraction": debt,
        "coverage": cov["coverage"],
        "files_unclustered": cov["files_unclustered"],
        "healthy": not issues,
        "issues": issues,
    }


def text_index_coverage(store, index_name: str) -> dict:
    """Probe-pruning watermark: the fraction of postings files that
    are token-clustered (``sorted_by`` entry stamps — pure manifest
    arithmetic). Same decay/alert/refresh lifecycle as the MinHash
    bands and bloom indexes."""
    snap = store._latest_commit(f"{index_name}_postings")
    if snap is None:
        raise FileNotFoundError(f"text index {index_name!r} not found")
    total = clustered = 0
    unclustered: list[str] = []
    for e in snap[1].get("entries") or []:
        nf = len(e.get("files") or [None])
        total += nf
        if (e.get("sorted_by") or []) == ["token"]:
            clustered += nf
        else:
            unclustered.append(e["path"])
    return {
        "files_total": total,
        "files_clustered": clustered,
        "files_unclustered": total - clustered,
        "coverage": (clustered / total) if total else 1.0,
        "unclustered_entries": unclustered,
    }


def refresh_text_index(
    store, index_name: str, *, target_files: int | None = None
) -> dict:
    """Recluster ONLY the unclustered postings tail (partial
    compaction, O(tail)) — probe pruning returns to the compacted
    level, rows bit-identical, commit CDF-silent."""
    cov = text_index_coverage(store, index_name)
    if not cov["unclustered_entries"]:
        return {"refreshed": False, **cov}
    store.compact_entries(
        f"{index_name}_postings",
        cov["unclustered_entries"],
        sort_by=["token"],
        target_files=target_files,
    )
    return {"refreshed": True, **text_index_coverage(store, index_name)}
